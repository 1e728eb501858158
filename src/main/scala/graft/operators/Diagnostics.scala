package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Series & sequence diagnostics (round 8, batch 9): the trend/
  * randomness test family over daily grids (Mann-Kendall, runs test,
  * Friedman), partial correlation, conditional transition entropy, a
  * scale-correct sequence-gap audit, and token burstiness. All seven
  * carry full DuckDB oracles.
  *
  * Determinism: every statistic is exact int64/decimal counting until a
  * terminal fixed-shape tree of divisions and sqrt; entropies use the
  * floor-log2 integer-surprisal device (Scoring.bits — zero libm).
  */
object Diagnostics extends QueryModule {

  /** Per-(type, day) daily event counts — the shared time grid of the
    * trend-test family (corpus reduces here first; everything after is
    * time-sized).
    */
  private def daily(s: SparkSession, d: String): DataFrame =
    table(s, d, "events")
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- seasonal Mann-Kendall (round 15): the Hirsch/Slack variant
      // of q_mk_trend for series with a weekly cycle — S and its
      // tie-corrected variance accumulate WITHIN each weekday season
      // (day pairs across seasons never compare, so the weekly cycle
      // cannot masquerade as trend), then z assembles from the summed
      // moments. Seasons partition the O(days) daily aggregate, so the
      // pair join is O(Σ days_k²) over ≤ days²/7 tiny rows; everything
      // int64 until the terminal z (÷, sqrt). Season labels never
      // reach the output, so the engines' differing weekday origins
      // (Spark 1=Sunday, DuckDB 0=Sunday) induce the same partition.
      // ---
      "q_seasonal_mk" -> ((s, d) => {
        val dly = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
          .withColumn("season", dayofweek(col("day")).cast("long"))
          .repartition(col("season")) // both join legs reuse this exchange
        val a = dly.select(col("season"), col("day").as("d1"),
          col("v").as("v1"))
        val b = dly.select(col("season"), col("day").as("d2"),
          col("v").as("v2"))
        val sAgg = a.join(b, Seq("season"))
          .filter(col("d2") > col("d1"))
          .groupBy("season")
          .agg(sum(when(col("v2") > col("v1"), 1L)
            .when(col("v2") < col("v1"), -1L).otherwise(0L)).as("sk"))
        val ties = dly.groupBy("season", "v")
          .agg(count(lit(1)).as("t"))
          .groupBy("season")
          .agg(sum(col("t") * (col("t") - 1L)
            * (lit(2L) * col("t") + 5L)).as("tsum"),
            sum("t").as("nk"))
        // Left join from ties (round-16, ADVICE): a season observed on
        // a single day has no pairs and therefore no sAgg row; an
        // inner join dropped it from n_days/n_seasons (its S and
        // variance contributions are 0 either way — metadata fix).
        ties.join(sAgg, Seq("season"), "left")
          .withColumn("sk", coalesce(col("sk"), lit(0L)))
          .agg(sum("nk").cast("long").as("n_days"),
            count(lit(1)).as("n_seasons"),
            sum("sk").cast("long").as("s"),
            sum(col("nk") * (col("nk") - 1L)
              * (lit(2L) * col("nk") + 5L) - col("tsum"))
              .cast("long").as("var18"))
          .select(col("n_days"), col("n_seasons"), col("s"),
            when(col("s") > 0, (col("s") - 1L).cast("double")
              / sqrt(col("var18").cast("double") / 18.0))
            .when(col("s") < 0, (col("s") + 1L).cast("double")
              / sqrt(col("var18").cast("double") / 18.0))
            .otherwise(lit(0.0)).as("z"))
      }),

      // --- rescaled-range (R/S) Hurst analysis (round 15): long-range
      // dependence of the daily revenue series — the Mandelbrot/Hurst
      // readout that separates trending (H>0.5), random-walk (≈0.5)
      // and mean-reverting (<0.5) behavior, which q_autocorr's
      // fixed-lag view can't. Per window size w ∈ {8,16,32} days the
      // series splits into complete non-overlapping windows; within
      // each, the cumulative deviation from the window mean is kept
      // EXACT by scaling through w: y_t = w·cum_t − t·S_w (int64 —
      // dollars, not cents, so Σx² stays < 2^53 and its double cast is
      // value-exact), so the range R·w = max y − min y is exact and
      // R/S = Ry / sqrt(w·Σx² − S_w²) is one fixed IEEE tree (÷ and
      // sqrt are correctly rounded — no libm). Per-window values
      // quantize to integer permille before the cross-window mean (the
      // levene_bf discipline: double Σ-order must never reach the
      // hash). Growth across w is reported as mean-R/S ratios vs w=8
      // (H itself needs a log — left to the consumer; a log2 here
      // would drag libm into the hash). All windows derive from the
      // O(days) daily aggregate; the day index is a 1-partition window
      // over that tiny relation, never the raw events. Gaps collapse
      // (the series is over observed days). ---
      "q_hurst_rs" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("cents"))
          // floor-consistent dollars (round-16, ADVICE): `div`
          // truncates, DuckDB `//` floors — subtract pmod so the
          // dividend is an exact multiple and the engines agree even
          // on a negative daily sum (see q_sax_motifs).
          .select(col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val idx = daily
          .withColumn("rn",
            row_number().over(Window.orderBy("day")).cast("long"))
          // kept, with agg's: 0.24 -> 0.27 s without, +36 % with repartitions
          .localCheckpoint()
        val perW = Seq(8L, 16L, 32L).map { w =>
          idx.select(lit(w).as("w"),
            expr(s"(rn - 1) div ${w}L").as("wid"),
            ((col("rn") - 1) % w + 1).as("t"), col("v"))
        }.reduce(_ unionByName _)
        val full = Window.partitionBy("w", "wid")
        val run = Window.partitionBy("w", "wid").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wins = perW
          .withColumn("sw", sum("v").over(full))
          .withColumn("y",
            sum("v").over(run) * col("w") - col("t") * col("sw"))
          .groupBy("w", "wid")
          .agg(count(lit(1)).as("n"), max("sw").as("swv"),
            sum(col("v") * col("v")).as("q"),
            (max("y") - min("y")).as("ry"))
          .filter(col("n") === col("w"))
          .withColumn("den2",
            col("w") * col("q") - col("swv") * col("swv"))
          .filter(col("den2") > 0)
          .select(col("w"),
            expr("CAST(round(CAST(ry AS DOUBLE)" +
              " / sqrt(CAST(den2 AS DOUBLE)) * 1000, 0) AS BIGINT)")
              .as("rs1000"))
        val agg = wins.groupBy("w")
          .agg(count(lit(1)).as("n_windows"),
            sum("rs1000").cast("long").as("srs"))
          .select(col("w"), col("n_windows"),
            (col("srs").cast("double")
              / (lit(1000.0) * col("n_windows").cast("double")))
              .as("mean_rs"))
          .localCheckpoint() // kept: see idx above
        val base8 = agg.filter(col("w") === 8)
          .select(col("mean_rs").as("m8"))
        agg.crossJoin(broadcast(base8))
          .select(col("w"), col("n_windows"), col("mean_rs"),
            (col("mean_rs") / col("m8")).as("rs_ratio_vs8"))
          .orderBy("w")
      }),

      // --- turning-point randomness test (round 16): count the local
      // peaks/troughs of the daily revenue series against the
      // E[T] = 2(n−2)/3, Var = (16n−29)/90 null — the third classic
      // randomness screen beside q_runs_test (signs around the
      // median) and q_ljung_box (joint autocorrelation); each reads a
      // different departure. STRICT comparisons only: a day tied with
      // a neighbor is not a turning point (documented; the continuous
      // null has no ties). Exact integer counting over the O(days)
      // lag/lead window; z is one fixed ÷/√ tree. ---
      "q_turning_points" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
        val w = Window.orderBy("day")
        val t = daily
          .withColumn("pv", lag("v", 1).over(w))
          .withColumn("nv", lead("v", 1).over(w))
          .agg(count(lit(1)).as("n"),
            sum(((col("v") > col("pv") && col("v") > col("nv")) ||
              (col("v") < col("pv") && col("v") < col("nv")))
              .cast("long")).as("n_turning"))
        t.select(col("n").as("n_days"), col("n_turning"),
          (lit(2.0) * (col("n") - 2L).cast("double") / lit(3.0))
            .as("e_t"),
          ((col("n_turning").cast("double")
            - lit(2.0) * (col("n") - 2L).cast("double") / lit(3.0))
            / sqrt((lit(16L) * col("n") - 29L).cast("double")
              / lit(90.0))).as("z"))
      }),

      // --- Bartels' rank von Neumann ratio (round 16): the fourth
      // randomness screen — q_runs_test reads signs, q_turning_points
      // local extrema, q_ljung_box joint autocorrelation; Bartels
      // reads successive-difference dispersion in RANK space, robust
      // where the value-space von Neumann (q_dw_resid's device) is
      // outlier-dragged. Midranks via the ×2 histogram device
      // (2·mid = 2·prev + t + 1 exact int64) over the bounded daily-
      // cents domain; Σ midranks ≡ n(n+1)/2 even under ties, so the
      // centered denominator is EXACTLY Σr₂² − n(n+1)² with no mean
      // division. RVN = num/den is the single terminal division (the
      // ×2 scales cancel); z uses Bartels' null Var ≈ 20/(5n+7)
      // (stated without tie correction, documented). O(days) grid
      // everywhere past the daily aggregate. ---
      "q_bartels_rank" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
        val hist = daily.groupBy("v").agg(count(lit(1)).as("c"))
        val wp = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val r2 = hist
          .withColumn("prev", coalesce(sum("c").over(wp), lit(0L)))
          .select(col("v"),
            (lit(2L) * col("prev") + col("c") + 1L).as("r2"))
        val wd = Window.orderBy("day")
        val ranked = daily.join(broadcast(r2), "v")
          .withColumn("nr2", lead("r2", 1).over(wd))
        ranked.agg(count(lit(1)).as("n"),
            sum(when(col("nr2").isNotNull,
              (col("r2") - col("nr2")) * (col("r2") - col("nr2")))
              .otherwise(0L)).as("num2"),
            sum(col("r2") * col("r2")).as("sr2sq"))
          .select(col("n").as("n_days"),
            ((col("sr2sq") - col("n") * (col("n") + 1L)
              * (col("n") + 1L))).as("den2"),
            col("num2"))
          .select(col("n_days"),
            when(col("den2") > 0,
              col("num2").cast("double") / col("den2").cast("double"))
              .as("rvn"),
            when(col("den2") > 0,
              (col("num2").cast("double")
                / col("den2").cast("double") - 2.0)
                / sqrt(lit(20.0) / (lit(5L) * col("n_days") + 7L)
                  .cast("double"))).as("z"))
      }),

      // --- Pettitt changepoint test (round 16): the RANK-based member
      // of the changepoint family — q_cusum_change and
      // q_binseg_change read level shifts in VALUE space (outlier-
      // dragged), q_page_hinkley streams; Pettitt's K = max|U_t| with
      // U_t = Σ_{i≤t,j>t} sgn(xⱼ−xᵢ) is distribution-free. The pair
      // sum never materializes: with ×2 midranks the identity
      // U_t = t(n+1) − Σ_{i≤t} mid2ᵢ makes every U_t an exact int64
      // prefix readout (ties cancel inside midranks). K/t* fall out
      // of one deterministic row_number cut (|U| desc, t asc); the
      // p-value exponent 6K²/(n³+n²) ships as the one FP tree (the
      // 2·exp(−·) wrap would drag libm exp into the hash —
      // documented). O(days) grid everywhere. ---
      "q_pettitt" -> ((s, d) => {
        val dailyV = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
        val hist = dailyV.groupBy("v").agg(count(lit(1)).as("c"))
        val wp = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val r2 = hist
          .withColumn("prev", coalesce(sum("c").over(wp), lit(0L)))
          .select(col("v"),
            (lit(2L) * col("prev") + col("c") + 1L).as("mid2"))
        val wd = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = dailyV.agg(count(lit(1)).as("n"))
        val pref = dailyV.join(broadcast(r2), "v")
          .withColumn("t", count(lit(1)).over(wd))
          .withColumn("sr2", sum("mid2").over(wd))
          .crossJoin(broadcast(tot))
          .filter(col("t") < col("n"))
          .select(col("day"), col("t"), col("n"),
            (col("t") * (col("n") + 1L) - col("sr2")).as("u"))
        val wr = Window.orderBy(abs(col("u")).desc, col("t").asc)
        pref.withColumn("rn", row_number().over(wr))
          .filter(col("rn") === 1)
          .select(col("n").as("n_days"), col("t").as("t_star"),
            date_format(col("day"), "yyyy-MM-dd").as("change_day"),
            col("u").as("u_stat"), abs(col("u")).as("k_stat"),
            (lit(6.0) * abs(col("u")).cast("double")
              * abs(col("u")).cast("double")
              / (col("n").cast("double") * col("n") * col("n")
                + col("n").cast("double") * col("n"))).as("k_norm"))
      }),

      // --- Cox-Stuart trend sign test (round 16): the assumption-
      // free trend screen beside q_mk_trend (all-pairs S) — pair day
      // t with day t + ⌈n/2⌉, count rises among the non-tied pairs,
      // and read the binomial sign balance z = (2S−m)/√m (normal
      // approximation, no continuity correction — documented). The
      // pairing is one bounded equi self-join on the day INDEX
      // (row_number over the O(days) daily aggregate), ties drop on
      // both engines; all counts exact int64, z the single ÷/√
      // tree. ---
      "q_cox_stuart" -> ((s, d) => {
        val dailyV = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
        val wd = Window.orderBy("day")
        val idx = dailyV
          .withColumn("t", row_number().over(wd).cast("long"))
        val tot = dailyV.agg(count(lit(1)).as("n"))
        val a = idx.select(col("t"), col("v").as("va"))
          .crossJoin(broadcast(tot))
          .filter(col("t") * 2 <= col("n"))
          .withColumn("tb", col("t") + (col("n") - expr("n div 2")))
        val b = idx.select(col("t").as("tb"), col("v").as("vb"))
        a.join(b, "tb")
          .agg(max("n").as("n_days"),
            sum(when(col("vb") =!= col("va"), 1L).otherwise(0L))
              .as("n_pairs"),
            sum(when(col("vb") > col("va"), 1L).otherwise(0L))
              .as("s_plus"))
          .select(col("n_days"), col("n_pairs"), col("s_plus"),
            when(col("n_pairs") > 0,
              (lit(2L) * col("s_plus") - col("n_pairs"))
                .cast("double")
                / sqrt(col("n_pairs").cast("double"))).as("z"))
      }),

      // --- Kendall's W coefficient of concordance (round 16): the
      // EFFECT SIZE over q_friedman_test's significance — W =
      // χ²_F/(b(k−1)) ∈ [0,1] answers "how strongly do the daily
      // blocks agree on the event-type ordering", the agreement
      // number a rank-stability dashboard publishes where χ² only
      // says "not independent". Identical complete-block ×2-midrank
      // device (shared daily aggregate); W adds one division to the
      // χ² tree; degenerate single-type/single-block corpora guard
      // to NULL. ---
      "q_kendall_w" -> ((s, d) => {
        val g = daily(s, d)
        val kTot = g.select(countDistinct("event_type").as("k"))
        val blocks = g
          .withColumn("kd",
            count(lit(1)).over(Window.partitionBy("day")))
          .crossJoin(broadcast(kTot))
          .filter(col("kd") === col("k"))
        val a2 = lit(2L) *
          rank().over(Window.partitionBy("day").orderBy("cnt")) +
          count(lit(1)).over(Window.partitionBy("day", "cnt")) - lit(1L)
        val perType = blocks
          .withColumn("a2", a2)
          .groupBy("event_type")
          .agg(sum("a2").as("r2"), count(lit(1)).as("n"),
            max("k").as("k"))
        perType
          .agg(max("n").as("n_blocks"), max("k").as("k"),
            sum(col("r2") * col("r2")).as("ssq"))
          .select(col("n_blocks"), col("k"),
            (lit(3.0) * col("ssq") /
              (col("n_blocks") * col("k") * (col("k") + 1L)) -
              lit(3.0) * col("n_blocks") * (col("k") + 1L))
              .as("chi2_f"))
          .select(col("n_blocks"), col("k"), col("chi2_f"),
            when(col("n_blocks") > 0 && col("k") > 1,
              col("chi2_f")
                / (col("n_blocks") * (col("k") - 1L)).cast("double"))
              .as("w"))
      }),

      // --- Quade blocked rank test (round 16): Friedman's WEIGHTED
      // sibling — blocks (days) are ranked by their sample RANGE and
      // high-spread days count more, which dominates Friedman's
      // power at small k (k = 5 event types here). All-integer via
      // stacked ×2 devices: within-block midranks a2 = 2r, block
      // weights q2 = 2·range-rank, S₄ = q2·(a2−(k+1)) = 4·Qᵢ(rᵢⱼ −
      // (k+1)/2) exact int64; A₁₆ = ΣS₄² and ΣT₄² accumulate in
      // DECIMAL(38,0) (b³k³ terms pass int64 near 10⁴ blocks);
      // F = (b−1)·ΣT₄²/(b·A₁₆ − ΣT₄²) — the ×16 cancels — with the
      // perfect-concordance denominator-zero guard (F → ∞ there,
      // NULL on both engines, documented). O(days) windows only. ---
      "q_quade_test" -> ((s, d) => {
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val g = daily(s, d)
        val kTot = g.select(countDistinct("event_type").as("k"))
        val blocks = g
          .withColumn("kd",
            count(lit(1)).over(Window.partitionBy("day")))
          .crossJoin(broadcast(kTot))
          .filter(col("kd") === col("k"))
          .repartition(col("day")) // its two readers reuse this exchange
        val a2 = lit(2L) *
          rank().over(Window.partitionBy("day").orderBy("cnt")) +
          count(lit(1)).over(Window.partitionBy("day", "cnt")) - lit(1L)
        val rng = blocks.groupBy("day")
          .agg((max("cnt") - min("cnt")).as("rng"))
        val q2 = rng
          .withColumn("q2",
            lit(2L) * rank().over(Window.orderBy("rng")) +
              count(lit(1)).over(Window.partitionBy("rng")) - lit(1L))
          .select(col("day"), col("q2"))
        val cells = blocks
          .withColumn("a2", a2)
          .join(broadcast(q2), "day")
          .select(col("event_type"), col("k"),
            (col("q2") * (col("a2") - (col("k") + 1L))).as("s4"))
        val perType = cells.groupBy("event_type")
          .agg(sum("s4").as("t4"), count(lit(1)).as("b"),
            max("k").as("k"), sum(col("s4").cast(d38) * col("s4"))
              .as("a16part"))
        perType
          .agg(max("b").as("n_blocks"), max("k").as("k"),
            sum("a16part").as("a16"),
            sum(col("t4").cast(d38) * col("t4")).as("st4sq"))
          .select(col("n_blocks"), col("k"),
            when(col("n_blocks").cast(d38) * col("a16")
                - col("st4sq") > 0,
              ((col("n_blocks") - 1L).cast(d38) * col("st4sq"))
                .cast("double")
                / (col("n_blocks").cast(d38) * col("a16")
                  - col("st4sq")).cast("double")).as("f_quade"))
      }),

      // --- Moran's I with lag-1 temporal weights (round 16): the
      // autocorrelation statistic in its spatial-statistics normal
      // form over the daily revenue series — with adjacency weights
      // w_ij = 1 iff |i−j| = 1 the whole quotient collapses to
      // I = n·Σc_t·c_{t+1} / ((n−1)·Σc²) where c = n·v − Σv keeps
      // centering exact int64 (the q_ljung_box device); reported next
      // to E[I] = −1/(n−1), the null mean a reader compares against.
      // One O(days) aggregate + O(days) lag window; FP is ONE terminal
      // division (plus the s0 = 0 NULL guard both engines spell). ---
      "q_morans_i" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("cents"))
          .select(col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val idx = daily
          .withColumn("rn",
            row_number().over(Window.orderBy("day")).cast("long"))
        val m = idx.agg(count(lit(1)).as("n"),
          sum("v").cast("long").as("sv"))
        val w = Window.orderBy("rn")
        val agg = idx.crossJoin(broadcast(m))
          .select(col("rn"), (col("n") * col("v") - col("sv")).as("cv"),
            col("n"))
          .withColumn("lv", lag("cv", 1).over(w))
          .agg(max("n").as("n"),
            sum(col("cv") * col("cv")).cast("long").as("s0"),
            sum(col("cv") * col("lv")).cast("long").as("s1"))
        agg.select(col("n").as("n_days"),
          when(col("s0") > 0,
            (col("n") * col("s1")).cast("double")
              / ((col("n") - 1L) * col("s0")).cast("double"))
            .as("morans_i"),
          (lit(-1.0) / (col("n") - 1L).cast("double")).as("e_i"))
      }),

      // --- Geary's C with lag-1 temporal weights (round 16): the
      // contiguity-ratio companion to q_morans_i — sensitive to LOCAL
      // differences where I reads global covariance (the two disagree
      // exactly when structure is local). With lag-1 weights
      // C = n²·Σ(v_t − v_{t+1})² / (2·Σc²): the difference sum needs
      // no centering (means cancel), the denominator reuses the exact
      // n-scaled c's. Same O(days) shapes; FP is one division. ---
      "q_gearys_c" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("cents"))
          .select(col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val idx = daily
          .withColumn("rn",
            row_number().over(Window.orderBy("day")).cast("long"))
        val m = idx.agg(count(lit(1)).as("n"),
          sum("v").cast("long").as("sv"))
        val w = Window.orderBy("rn")
        val agg = idx.crossJoin(broadcast(m))
          .select(col("rn"), col("v"),
            (col("n") * col("v") - col("sv")).as("cv"), col("n"))
          .withColumn("pv", lag("v", 1).over(w))
          .agg(max("n").as("n"),
            sum(col("cv") * col("cv")).cast("long").as("s0"),
            sum((col("v") - col("pv")) * (col("v") - col("pv")))
              .cast("long").as("sd2"))
        agg.select(col("n").as("n_days"),
          when(col("s0") > 0,
            (col("n") * col("n") * col("sd2")).cast("double")
              / (lit(2L) * col("s0")).cast("double")).as("gearys_c"))
      }),

      // --- seasonal Theil-Sen slope (round 16): the MAGNITUDE
      // companion to q_seasonal_mk's significance — the median of
      // within-season pairwise slopes (cents/day), immune to the
      // weekly cycle for exactly the reason the seasonal MK is (day
      // pairs never compare across weekday seasons). The pair
      // relation is the same O(Σ days_k²) CALENDAR-sized grid (never
      // corpus-sized); each slope is ONE IEEE division; the lower
      // median is a deterministic row_number cut under the total
      // (slope, d1, d2) order. ---
      "q_seasonal_sen" -> ((s, d) => {
        val dly = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("v"))
          .withColumn("season", dayofweek(col("day")).cast("long"))
          // kept: 0.15 -> 0.20 s without, +12 % with a shared repartition
          .localCheckpoint()
        val a = dly.select(col("season"), col("day").as("d1"),
          col("v").as("v1"))
        val b = dly.select(col("season"), col("day").as("d2"),
          col("v").as("v2"))
        val slopes = a.join(b, Seq("season"))
          .filter(col("d2") > col("d1"))
          .select(col("d1"), col("d2"),
            ((col("v2") - col("v1")).cast("double")
              / datediff(col("d2"), col("d1")).cast("double"))
              .as("slope"))
        val n = slopes.agg(count(lit(1)).cast("long").as("n_pairs"))
        slopes
          .withColumn("rnk", row_number()
            .over(Window.orderBy("slope", "d1", "d2")).cast("long"))
          .crossJoin(broadcast(n))
          .filter(col("rnk") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"), col("slope").as("sen_slope"))
      }),

      // --- Page's trend test (round 16): the ORDERED-alternative
      // sibling of q_friedman_test — same blocked ranks (orders with
      // exactly 3 lines as blocks, line position as treatment, ranked
      // quantity as response), but the alternative is the specific
      // monotone ordering "quantity drifts with line position", which
      // Friedman's any-difference χ² dilutes. Midranks stay exact via
      // the ×2 device (2·mid = 2·#less + #eq + 1, counted by the
      // bounded 3×3 within-block self-join); L·2 = Σ j·R2_j is exact
      // int64, and with k=3 the normal z is (L2 − 24b)/(2·√(2b)) —
      // one sqrt + one division. Shuffles only on orderkey; the rank
      // rollup is O(3) rows. ---
      "q_page_trend" -> ((s, d) => {
        val li = table(s, d, "lineitem")
          .filter(col("l_linenumber") <= 3)
          .select(col("l_orderkey").as("ok"),
            col("l_linenumber").cast("long").as("j"),
            expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"))
        val blocks = li.groupBy("ok").agg(count(lit(1)).as("c"))
          .filter(col("c") === 3).select("ok")
        val liq = li.join(blocks, "ok")
        val ranks = liq
          .join(liq.select(col("ok"), col("q").as("qb")), "ok")
          .groupBy("ok", "j")
          .agg((lit(2L) * sum((col("qb") < col("q")).cast("long"))
            + sum((col("qb") === col("q")).cast("long")) + lit(1L))
            .as("r2"))
        val rj = ranks.groupBy("j").agg(sum("r2").cast("long").as("r2j"))
        rj.agg(sum(col("j") * col("r2j")).cast("long").as("l2"))
          .crossJoin(broadcast(
            blocks.agg(count(lit(1)).cast("long").as("nb"))))
          .select(col("nb").as("n_blocks"),
            (col("l2").cast("double") / 2.0).as("page_l"),
            ((col("l2") - lit(24L) * col("nb")).cast("double")
              / (lit(2.0) * sqrt(lit(2.0) * col("nb").cast("double"))))
              .as("z"))
      }),

      // --- Ljung-Box portmanteau test (round 16): is the daily
      // revenue series white noise, or does ANY of the first five
      // autocorrelations carry structure — the residual-diagnostic
      // gate a forecasting pipeline runs before trusting a model's
      // "uncorrelated errors" claim (q_autocorr/q_acf_multi read
      // single lags; this is the joint test). Device: daily exact
      // int64 dollars (the floor-consistent spelling), mean-centering
      // kept EXACT by scaling through n (cv_t = n·v_t − Σv), so every
      // autocovariance Σ cv_t·cv_{t+k} and the variance Σ cv² are
      // exact int64 (|cv| ≤ n·|v| ~ 3e8 at bench scale → Σ products
      // < 4e18; a fleet recast rides DECIMAL(38,0), same plan). FP
      // enters only in the terminal r_k = s_k/s0 ratios and the fixed
      // left-associated Q = n(n+2)·Σ r_k²/(n−k) tree. One O(days)
      // aggregate; all windows run over the ≤ O(days) grid. ---
      "q_ljung_box" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("cents"))
          .select(col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val idx = daily
          .withColumn("rn",
            row_number().over(Window.orderBy("day")).cast("long"))
        val m = idx.agg(count(lit(1)).as("n"),
          sum("v").cast("long").as("sv"))
        val w = Window.orderBy("rn")
        val cent = idx.crossJoin(broadcast(m))
          .select(col("rn"), (col("n") * col("v") - col("sv")).as("cv"),
            col("n"))
        val lagged = (1 to 5).foldLeft(cent) { (df, k) =>
          df.withColumn(s"l$k", lag("cv", k).over(w))
        }
        // SUM skips the NULL products of the first k rows on both
        // engines — the per-lag evaluable windows need no filters
        val agg = lagged.agg(
          max("n").as("n"),
          sum(col("cv") * col("cv")).cast("long").as("s0"),
          sum(col("cv") * col("l1")).cast("long").as("s1"),
          sum(col("cv") * col("l2")).cast("long").as("s2"),
          sum(col("cv") * col("l3")).cast("long").as("s3"),
          sum(col("cv") * col("l4")).cast("long").as("s4"),
          sum(col("cv") * col("l5")).cast("long").as("s5"))
        // s0 = 0 guard: a constant series zeroes every centered value
        // and 0/0 is NULL on Spark but NaN on DuckDB — the unmatched
        // WHEN/CASE emits NULL identically on both engines.
        def r(i: Int) = when(col("s0") > 0,
          col(s"s$i").cast("double") / col("s0").cast("double"))
        def term(i: Int) =
          r(i) * r(i) / (col("n") - i.toLong).cast("double")
        agg.select(col("n").as("n_days"),
          r(1).as("r1"), r(2).as("r2"), r(3).as("r3"), r(4).as("r4"),
          r(5).as("r5"),
          (col("n").cast("double") * (col("n") + 2L).cast("double")
            * (term(1) + term(2) + term(3) + term(4) + term(5)))
            .as("q_lb"))
      }),

      // --- Brown-Forsythe / Levene homogeneity-of-variance test
      // (round 15): is event-value SPREAD equal across event types —
      // the precondition check q_anova_f silently assumes, and the
      // robust (median-centered) variant actually recommended. Device:
      // values quantize to exact integer cents; each group's median
      // comes from the banded cum*2 >= n integer cut (the
      // percentile_grid discipline — O(bands) windows, never a
      // corpus-sized sort); |x − med| is then an exact int64, so the
      // one-way ANOVA moments over the deviations (n_i, Σz, Σz²) are
      // exact. FP enters only in the per-group si²/ni terms — fixed
      // IEEE trees quantized to DECIMAL(30,6) before the O(groups)
      // sum — and the terminal F assembly. One scan + band/group
      // rollups at any scale; 1-row output. ---
      "q_levene_bf" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("v"))
        val bands = ev.groupBy("event_type", "v")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = ev.groupBy("event_type").agg(count(lit(1)).as("nt"))
        val med = bands.withColumn("cum", sum("c").over(wc))
          .join(broadcast(tot), "event_type")
          .groupBy("event_type")
          .agg(min(when(col("cum") * 2 >= col("nt"), col("v")))
            .as("med"))
        val z = ev.join(broadcast(med), "event_type")
          .select(col("event_type"), abs(col("v") - col("med")).as("z"))
        // per-group si²/ni quantizes to INTEGER cent² (round, then
        // exact int64 sums): a fractional decimal quantum would sit
        // BELOW the double ULP at these magnitudes (observed: Spark's
        // double→decimal goes through the shortest string repr,
        // DuckDB's through the full binary expansion — divergent 6th
        // decimals at 1e10). Quantum 1 keeps ≥4x ULP headroom up to
        // si²/ni ~ 1e15, and the ≤0.5-per-group residual is ~1e-10
        // relative on the F scale.
        val g = z.groupBy("event_type")
          .agg(count(lit(1)).as("ni"), sum("z").as("si"),
            sum(col("z") * col("z")).as("qi"))
          .withColumn("s2n", expr(
            "CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni," +
              " 0) AS BIGINT)"))
        g.agg(count(lit(1)).as("k"),
            sum("ni").cast("long").as("n"),
            sum("si").cast("long").as("s"),
            sum("qi").cast("long").as("q"),
            sum("s2n").cast("long").as("sum_s2n"))
          .select(col("k"), col("n"),
            (col("sum_s2n").cast("double")
              - round(col("s").cast("double") * col("s").cast("double")
                / col("n"), 0)).as("ssb"),
            (col("q").cast("double") - col("sum_s2n").cast("double"))
              .as("ssw"))
          .withColumn("f_bf",
            (col("ssb") / (col("k") - 1))
              / (col("ssw") / (col("n") - col("k"))))
      }),

      // --- Mann-Kendall monotonic-trend test per event type (the
      // significance companion to q_theilsen_trend's slope): S = Σ
      // sign(c_j − c_i) over day pairs, tie-corrected variance, and
      // the continuity-corrected z. The pair join is time²-bounded per
      // series (never corpus-sized); S, the tie term Σt(t−1)(2t+5)
      // and N(N−1)(2N+5) are exact int64; z is one fixed
      // division/sqrt tree with the standard ±1 correction. ---
      // --- OLS trend diagnostics (round 9): slope/intercept of each
      // type's daily-total trend PLUS the residual health readouts a
      // forecaster actually checks — Durbin-Watson (serial correlation
      // of residuals; ~2 = white noise, <1 = the trend missed
      // structure), R², and mean |residual|. Moments accumulate in
      // exact decimal/int64 (the q_autocorr discipline); residuals are
      // the identical fixed IEEE tree on both engines and QUANTIZE to
      // DECIMAL(18,4) before the DW sums, so the cross-day
      // accumulation is exact and order-independent. Per-type windows
      // only ever see the tiny daily series. ---
      "q_dw_resid" -> ((s, d) => {
        val D19 = DecimalType(19, 4)
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(D).as("y"))
        val wt = Window.partitionBy("event_type").orderBy("day")
        val idx = daily
          .withColumn("t", (row_number().over(wt) - 1).cast("long"))
          .select("event_type", "y", "t")
        val m = idx.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("t").as("sx"), sum("y").as("sy"),
          sum(col("y").cast(D19) * col("t")).as("sxy"),
          sum(col("t") * col("t")).as("sxx"),
          sum(col("y").cast(D19) * col("y")).as("syy"))
        def Dd(c: String) = col(c).cast("double")
        val ab = m
          .withColumn("b", (Dd("n") * Dd("sxy") - Dd("sx") * Dd("sy")) /
            (Dd("n") * Dd("sxx") - Dd("sx") * Dd("sx")))
          .withColumn("a", (Dd("sy") - col("b") * Dd("sx")) / col("n"))
        val r = idx.join(broadcast(ab), "event_type")
          .withColumn("q",
            (Dd("y") - (col("a") + col("b") * col("t"))).cast(D))
        val l = r.withColumn("qp", lag("q", 1).over(
          Window.partitionBy("event_type").orderBy("t")))
        // the first-difference re-cast to (18,4) is lossless (a diff of
        // two scale-4 values) and keeps the squared product inside
        // DECIMAL(38) — a (19,4)x(19,4) product needs precision 39 and
        // Spark would silently round its scale down
        val agg = l.groupBy("event_type").agg(
          sum(col("q").cast(D19) * col("q")).as("den"),
          sum(when(col("qp").isNotNull,
            dec(col("q") - col("qp")) * dec(col("q") - col("qp"))))
            .as("num"),
          sum(abs(col("q"))).as("sabs"), count(lit(1)).as("nn"))
        ab.join(agg, "event_type")
          .select(col("event_type"), col("nn").as("n_days"),
            col("b").as("slope"), col("a").as("intercept"),
            when(col("den") > 0, Dd("num") / Dd("den")).as("dw"),
            when(Dd("n") * Dd("syy") - Dd("sy") * Dd("sy") > 0,
              col("b") * col("b") *
                (Dd("n") * Dd("sxx") - Dd("sx") * Dd("sx")) /
                (Dd("n") * Dd("syy") - Dd("sy") * Dd("sy"))).as("r2"),
            (Dd("sabs") / col("nn")).as("mean_abs_resid"))
          .orderBy("event_type")
      }),

      "q_mk_trend" -> ((s, d) => {
        val g = daily(s, d)
        val a = g.select(col("event_type"), col("day").as("d1"),
          col("cnt").as("c1"))
        val b = g.select(col("event_type"), col("day").as("d2"),
          col("cnt").as("c2"))
        val sAgg = a.join(b, Seq("event_type"))
          .filter(col("d2") > col("d1"))
          .groupBy("event_type")
          .agg(sum(when(col("c2") > col("c1"), 1L)
            .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s"))
        val ties = g.groupBy("event_type", "cnt")
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .as("tsum"), sum("t").as("n"))
        val varS = (col("n") * (col("n") - 1L) *
          (lit(2L) * col("n") + 5L) - col("tsum")).cast("double") /
          lit(18.0)
        sAgg.join(broadcast(ties), "event_type")
          .select(col("event_type"), col("n").as("n_days"), col("s"),
            when(col("s") > 0,
                (col("s") - 1L).cast("double") / sqrt(varS))
              .when(col("s") < 0,
                (col("s") + 1L).cast("double") / sqrt(varS))
              .otherwise(lit(0.0)).as("z"))
          .orderBy("event_type")
      }),

      // --- Wald-Wolfowitz runs test per event type: are the daily
      // counts' above/below-median signs randomly ordered, or does the
      // series cluster (regime-y volume)? The median is the explicit
      // two-middle-rows device (×2-scaled — no interpolating
      // percentile); equal-to-median days are dropped per the standard
      // definition; runs = 1 + sign flips via lag over the time grid.
      // μ, σ and z are a fixed tree of exact int64 counts. ---
      "q_runs_test" -> ((s, d) => {
        val g = daily(s, d)
        val wr = Window.partitionBy("event_type").orderBy("cnt", "day")
        val med = g
          .withColumn("rn", row_number().over(wr).cast("long"))
          .withColumn("np",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .filter(col("rn") === expr("(np + 1) div 2") ||
            col("rn") === expr("np div 2 + 1"))
          .groupBy("event_type")
          .agg(sum("cnt").as("smid"), count(lit(1)).as("nmid"))
          .select(col("event_type"), expr("smid * 2 div nmid").as("med2"))
        val signed = g.join(broadcast(med), "event_type")
          .filter(lit(2L) * col("cnt") =!= col("med2"))
          .withColumn("above", (lit(2L) * col("cnt") > col("med2"))
            .cast("long"))
        val wt = Window.partitionBy("event_type").orderBy("day")
        val runs = signed
          .withColumn("flip",
            when(lag("above", 1).over(wt).isNull, 0L)
              .when(col("above") =!= lag("above", 1).over(wt), 1L)
              .otherwise(0L))
          .groupBy("event_type")
          .agg(sum("above").as("n1"),
            sum(lit(1L) - col("above")).as("n2"),
            (sum("flip") + 1L).as("r"))
        val nn = col("n1") + col("n2")
        val two = lit(2L) * col("n1") * col("n2")
        val mu = two.cast("double") / nn + lit(1.0)
        val sg = sqrt((two * (two - nn)).cast("double") /
          (nn * nn * (nn - 1L)).cast("double"))
        runs.select(col("event_type"), col("n1"), col("n2"), col("r"),
            ((col("r").cast("double") - mu) / sg).as("z"))
          .orderBy("event_type")
      }),

      // --- Friedman test (repeated-measures rank ANOVA): days are
      // blocks, event types are treatments, the daily count is the
      // response — "does any type systematically out-rank the others
      // day after day?", the blocked complement of Kruskal-Wallis.
      // Within-block midranks use the ×2-integer device over k=5
      // values; only complete blocks enter. ΣR² stays exact int64;
      // χ²_F = 3·ΣR2²/(n·k·(k+1)) − 3·n·(k+1) is the terminal fixed
      // tree. Everything after the daily grid is O(days·k). ---
      "q_friedman_test" -> ((s, d) => {
        val g = daily(s, d)
        val kTot = g.select(countDistinct("event_type").as("k"))
        val blocks = g
          .withColumn("kd", count(lit(1)).over(Window.partitionBy("day")))
          .crossJoin(broadcast(kTot))
          .filter(col("kd") === col("k"))
        val a2 = lit(2L) *
          rank().over(Window.partitionBy("day").orderBy("cnt")) +
          count(lit(1)).over(Window.partitionBy("day", "cnt")) - lit(1L)
        val perType = blocks
          .withColumn("a2", a2)
          .groupBy("event_type")
          .agg(sum("a2").as("r2"), count(lit(1)).as("n"), max("k").as("k"))
        perType
          .agg(max("n").as("n_blocks"), max("k").as("k"),
            sum(col("r2") * col("r2")).as("ssq"))
          .select(col("n_blocks"), col("k"),
            (lit(3.0) * col("ssq") /
              (col("n_blocks") * col("k") * (col("k") + 1L)) -
              lit(3.0) * col("n_blocks") * (col("k") + 1L)).as("chi2_f"))
      }),

      // --- partial correlation per market segment: balance vs total
      // spend CONTROLLING for order count (does money correlate with
      // spend beyond mere activity?). One customer-grain aggregate
      // builds (x, y, z) in exact cents; all nine moments accumulate
      // in DECIMAL(38,0) (y² sums pass int64 at fleet scale); the
      // three Pearsons and the partial share one fixed double tree. ---
      "q_partial_corr" -> ((s, d) => {
        val spend = table(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("yc"),
            count(lit(1)).as("zc"))
        val base = table(s, d, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100, 0).cast("long").as("x"),
            coalesce(col("yc"), lit(0L)).as("y"),
            coalesce(col("zc"), lit(0L)).as("z"))
        val d38 = DecimalType(38, 0)
        def m(c: Column) = sum(c.cast(d38))
        val mom = base.groupBy("seg").agg(count(lit(1)).as("n"),
          m(col("x")).as("sx"), m(col("y")).as("sy"), m(col("z")).as("sz"),
          m(col("x") * col("x")).as("sxx"),
          m(col("y") * col("y")).as("syy"),
          m(col("z") * col("z")).as("szz"),
          m(col("x") * col("y")).as("sxy"),
          m(col("x") * col("z")).as("sxz"),
          m(col("y") * col("z")).as("syz"))
        def r(sab: Column, sa: Column, sb: Column, saa: Column,
            sbb: Column) =
          (col("n") * sab - sa * sb).cast("double") /
            sqrt((col("n") * saa - sa * sa).cast("double") *
              (col("n") * sbb - sb * sb).cast("double"))
        val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"),
          col("syy"))
        val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"),
          col("szz"))
        val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"),
          col("szz"))
        mom.select(col("seg"), col("n"), rxy.as("r_xy"),
            ((rxy - rxz * ryz) /
              sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)))
              .as("r_xy_given_z"))
          .orderBy("seg")
      }),

      // --- conditional transition entropy H(next | current) of the
      // per-user event-type sequence: how predictable is the next
      // action given the current one (the sequence-compressibility
      // readout next to q_markov_transition's probabilities)? One
      // user-keyed lag window produces the bigram stream; counts
      // reduce to the O(k²) transition matrix; surprisal is the
      // floor-log2 integer-bits device (zero libm), so sum_bits is an
      // exact int64 and avg_bits one division. ---
      "q_transition_entropy" -> ((s, d) => {
        val wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = table(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("nxt"))
          .withColumn("cur", lag("nxt", 1).over(wt))
          .filter(col("cur").isNotNull)
        val cells = pairs.groupBy("cur", "nxt")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("cur")
        cells
          .withColumn("nTot", sum("c").over(wc))
          .withColumn("b", Scoring.bits(col("nTot"), col("c")))
          .groupBy("cur")
          .agg(max("nTot").as("n_trans"),
            sum(col("c") * col("b")).as("sum_bits"))
          .select(col("cur"), col("n_trans"), col("sum_bits"),
            (col("sum_bits").cast("double") / col("n_trans"))
              .as("avg_bits"))
          .orderBy("cur")
      }),

      // --- sequence-gap audit (CDC/event-log completeness): find the
      // missing id islands in the event_id sequence after a
      // deterministic md5 "loss" gate (~1/16 of rows). The SCALE-
      // CORRECT spelling: ids bucket by id div 1000, intra-bucket gaps
      // come from a lag window WITHIN each bucket (parallel over the
      // corpus), and the bucket-boundary gaps from a lag over the
      // O(buckets) summary relation — no global window ever touches
      // row-grain data. The oracle is the naive single-global-window
      // spelling, so the hash match PROVES the partitioned plan
      // equals it. ---
      "q_seq_gaps" -> ((s, d) => {
        val ids = table(s, d, "events")
          .filter(
            expr("substring(md5(concat('gap', cast(event_id as string)))," +
              " 1, 1)") =!= "0")
          .select(col("event_id").as("id"))
          .withColumn("bkt", expr("id div 1000"))
        val wi = Window.partitionBy("bkt").orderBy("id")
        val intra = ids
          .withColumn("prev", lag("id", 1).over(wi))
          .filter(col("prev").isNotNull && col("id") - col("prev") > 1L)
          .select((col("prev") + 1L).as("gap_start"),
            (col("id") - 1L).as("gap_end"))
        val summ = ids.groupBy("bkt")
          .agg(min("id").as("mn"), max("id").as("mx"))
        val wb = Window.orderBy("bkt")
        val boundary = summ
          .withColumn("pmx", lag("mx", 1).over(wb))
          .filter(col("pmx").isNotNull && col("mn") - col("pmx") > 1L)
          .select((col("pmx") + 1L).as("gap_start"),
            (col("mn") - 1L).as("gap_end"))
        intra.unionAll(boundary)
          .select(col("gap_start"), col("gap_end"),
            (col("gap_end") - col("gap_start") + 1L).as("n_missing"))
          .orderBy("gap_start")
      }),

      // --- token burstiness (variance-to-mean ratio over documents,
      // zeros included): separates bursty content words (high VMR —
      // they pile into few documents) from evenly spread function
      // words (VMR ≈ 1, Poisson-like) — the corpus statistic behind
      // stopword discovery and df-weighting choices. Per-token moments
      // are exact int64 off one tokenize pass; zeros enter through the
      // closed form VMR = (n·Σx² − (Σx)²)/(n·Σx) with n = corpus doc
      // count, so no dense doc×token matrix ever materializes. Top 20
      // by VMR among df ≥ 50 tokens via TakeOrdered. ---
      "q_burstiness" -> ((s, d) => {
        val docs = table(s, d, "documents")
        val nDocs = docs.agg(count(lit(1)).as("nd"))
        val tok = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("x"))
        tok.groupBy("w")
          .agg(count(lit(1)).as("df"), sum("x").as("total"),
            sum(col("x") * col("x")).as("sxx"))
          .filter(col("df") >= 50)
          .crossJoin(broadcast(nDocs))
          .select(col("w"), col("df"), col("total"),
            ((col("nd") * col("sxx") - col("total") * col("total"))
              .cast("double") / (col("nd") * col("total")).cast("double"))
              .as("vmr"))
          .orderBy(col("vmr").desc, col("w").asc)
          .limit(20)
      }),

      // --- binary-segmentation change point (round 10): the single
      // split of the daily event-count series that maximizes the
      // between-segment sum of squares — CUSUM's (q_cusum_change)
      // model-based sibling: one pass answers "WHERE did the level
      // shift, and what were the two means". The corpus reduces to
      // the O(days) grid first; the candidate scan is a prefix-sum
      // window over that bounded calendar domain; gain = cx²/i +
      // (S−cx)²/(n−i) with DECIMAL(38,0)-exact squares and two IEEE
      // divisions both engines evaluate identically, so the argmax
      // (ties → earliest day) can never disagree. 1-row output. ---
      "q_binseg_change" -> ((s, d) =>
        Diagnostics.binsegOverDays(table(s, d, "events")
          .groupBy(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).as("x")))),

      // --- Page-Hinkley drift monitor (round 13): the SEQUENTIAL
      // change detector next to q_binseg_change's retrospective argmax
      // — PH_t = U_t − min_{i<=t} U_i with U_t the cumulative
      // deviation from the running mean (δ=0.5 drift allowance), the
      // detector an online feed runs day by day. Everything lives on
      // the O(days) grid: running mean = one IEEE division per row,
      // deviations quantized to DECIMAL(18,4) BEFORE the cumulative
      // sum (window folds are sequential but cross-engine float order
      // is not guaranteed — exact decimals are), running min over
      // decimals is exact. Alarm at λ=100 in count units. ---
      "q_page_hinkley" -> ((s, d) => {
        val days = table(s, d, "events")
          .groupBy(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        days
          .withColumn("i", row_number().over(Window.orderBy("day"))
            .cast("long"))
          .withColumn("cumx", sum("x").over(w).cast("long"))
          .withColumn("dev", dec(col("x").cast("double")
            - col("cumx").cast("double") / col("i").cast("double")
            - lit(0.5)))
          .withColumn("u", sum("dev").over(w))
          .withColumn("minu", min(col("u")).over(w))
          .select(col("day"), col("x"),
            col("u").cast("double").as("u"),
            (col("u") - col("minu")).cast("double").as("ph"))
          .withColumn("alarm", col("ph") > 100.0)
          .orderBy("day")
      })
    )

  /** The binary-segmentation argmax over a (day, x) daily-count grid —
    * shared with the streamed twin (q_streaming_binseg drains the same
    * grid out of a complete-mode aggregate and must post-process it
    * identically to carry this query's oracle).
    */
  private[graft] def binsegOverDays(days: DataFrame): DataFrame = {
    val wc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = days.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val d38 = DecimalType(38, 0)
    def sq(c: Column): Column = c.cast(d38) * c.cast(d38)
    days
      .withColumn("i", row_number().over(Window.orderBy("day"))
        .cast("long"))
      .withColumn("cx", sum("x").over(wc))
      .crossJoin(broadcast(tot))
      .filter(col("i") < col("n"))
      .withColumn("gain",
        sq(col("cx")).cast("double") / col("i") +
          sq(col("sx") - col("cx")).cast("double") /
            (col("n") - col("i")))
      .orderBy(col("gain").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("split_day"), col("n").as("n_days"),
        col("i").as("n_before"), (col("n") - col("i")).as("n_after"),
        (col("cx").cast("double") / col("i")).as("mean_before"),
        ((col("sx") - col("cx")).cast("double") /
          (col("n") - col("i"))).as("mean_after"),
        col("gain"))
  }

  override def oracle: Map[String, String] = Map(

    "q_seasonal_mk" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |dly AS (SELECT day, CAST(SUM(vc) AS BIGINT) AS v,
        |    CAST(dayofweek(day) AS BIGINT) AS season
        |  FROM d0 GROUP BY 1),
        |sa AS (SELECT a.season,
        |    CAST(SUM(CASE WHEN b.v > a.v THEN 1
        |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS sk
        |  FROM dly a JOIN dly b
        |    ON a.season = b.season AND b.day > a.day
        |  GROUP BY 1),
        |ties AS (SELECT season,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
        |    CAST(SUM(t) AS BIGINT) AS nk
        |  FROM (SELECT season, v, CAST(COUNT(*) AS BIGINT) AS t
        |        FROM dly GROUP BY 1, 2) GROUP BY 1),
        |m AS (SELECT CAST(SUM(nk) AS BIGINT) AS n_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_seasons,
        |    CAST(SUM(COALESCE(sk, 0)) AS BIGINT) AS s,
        |    CAST(SUM(nk * (nk - 1) * (2 * nk + 5) - tsum) AS BIGINT)
        |      AS var18
        |  FROM ties LEFT JOIN sa USING (season))
        |SELECT n_days, n_seasons, s,
        |  CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |FROM m""".stripMargin,

    "q_turning_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |l AS (SELECT v,
        |    lag(v, 1) OVER (ORDER BY day) AS pv,
        |    lead(v, 1) OVER (ORDER BY day) AS nv
        |  FROM daily),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN (v > pv AND v > nv)
        |      OR (v < pv AND v < nv) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_turning
        |  FROM l)
        |SELECT n AS n_days, n_turning,
        |  2.0 * CAST(n - 2 AS DOUBLE) / 3.0 AS e_t,
        |  (CAST(n_turning AS DOUBLE)
        |    - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)
        |    / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0) AS z
        |FROM a""".stripMargin,

    "q_morans_i" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1)),
        |idx AS (SELECT v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sv FROM idx),
        |cent AS (SELECT rn, n * v - sv AS cv, n
        |  FROM idx CROSS JOIN m),
        |l AS (SELECT cv, n, lag(cv, 1) OVER (ORDER BY rn) AS lv
        |  FROM cent),
        |a AS (SELECT MAX(n) AS n,
        |    CAST(SUM(cv * cv) AS BIGINT) AS s0,
        |    CAST(SUM(cv * lv) AS BIGINT) AS s1 FROM l)
        |SELECT n AS n_days,
        |  CASE WHEN s0 > 0 THEN CAST(n * s1 AS DOUBLE)
        |    / CAST((n - 1) * s0 AS DOUBLE) END AS morans_i,
        |  -1.0 / CAST(n - 1 AS DOUBLE) AS e_i
        |FROM a""".stripMargin,

    "q_gearys_c" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1)),
        |idx AS (SELECT v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sv FROM idx),
        |cent AS (SELECT rn, v, n * v - sv AS cv, n
        |  FROM idx CROSS JOIN m),
        |l AS (SELECT v, cv, n, lag(v, 1) OVER (ORDER BY rn) AS pv
        |  FROM cent),
        |a AS (SELECT MAX(n) AS n,
        |    CAST(SUM(cv * cv) AS BIGINT) AS s0,
        |    CAST(SUM((v - pv) * (v - pv)) AS BIGINT) AS sd2 FROM l)
        |SELECT n AS n_days,
        |  CASE WHEN s0 > 0 THEN CAST(n * n * sd2 AS DOUBLE)
        |    / CAST(2 * s0 AS DOUBLE) END AS gearys_c
        |FROM a""".stripMargin,

    "q_seasonal_sen" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |dly AS (SELECT day, CAST(SUM(vc) AS BIGINT) AS v,
        |    CAST(dayofweek(day) AS BIGINT) AS season
        |  FROM d0 GROUP BY 1),
        |sl AS (SELECT a.day AS d1, b.day AS d2,
        |    CAST(b.v - a.v AS DOUBLE)
        |      / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        |  FROM dly a JOIN dly b
        |    ON a.season = b.season AND b.day > a.day),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sl),
        |r AS (SELECT slope,
        |    CAST(ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS BIGINT)
        |      AS rnk
        |  FROM sl)
        |SELECT n_pairs, slope AS sen_slope
        |FROM r CROSS JOIN n WHERE rnk = (n_pairs + 1) // 2""".stripMargin,

    "q_page_trend" ->
      """WITH li AS (SELECT l_orderkey AS ok,
        |    CAST(l_linenumber AS BIGINT) AS j,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q
        |  FROM lineitem WHERE l_linenumber <= 3),
        |blocks AS (SELECT ok FROM li GROUP BY ok
        |           HAVING COUNT(*) = 3),
        |liq AS (SELECT li.ok, li.j, li.q
        |  FROM li JOIN blocks ON li.ok = blocks.ok),
        |ranks AS (SELECT a.ok, a.j,
        |    2 * CAST(SUM(CASE WHEN b.q < a.q THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |    + CAST(SUM(CASE WHEN b.q = a.q THEN 1 ELSE 0 END)
        |      AS BIGINT) + 1 AS r2
        |  FROM liq a JOIN liq b ON a.ok = b.ok GROUP BY 1, 2),
        |rj AS (SELECT j, CAST(SUM(r2) AS BIGINT) AS r2j
        |  FROM ranks GROUP BY 1),
        |l AS (SELECT CAST(SUM(j * r2j) AS BIGINT) AS l2 FROM rj),
        |bc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM blocks)
        |SELECT nb AS n_blocks, CAST(l2 AS DOUBLE) / 2.0 AS page_l,
        |  CAST(l2 - 24 * nb AS DOUBLE)
        |    / (2.0 * sqrt(2.0 * CAST(nb AS DOUBLE))) AS z
        |FROM l CROSS JOIN bc""".stripMargin,

    "q_ljung_box" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1)),
        |idx AS (SELECT v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sv FROM idx),
        |cent AS (SELECT rn, n * v - sv AS cv, n
        |  FROM idx CROSS JOIN m),
        |l AS (SELECT cv, n,
        |    lag(cv, 1) OVER (ORDER BY rn) AS l1,
        |    lag(cv, 2) OVER (ORDER BY rn) AS l2,
        |    lag(cv, 3) OVER (ORDER BY rn) AS l3,
        |    lag(cv, 4) OVER (ORDER BY rn) AS l4,
        |    lag(cv, 5) OVER (ORDER BY rn) AS l5
        |  FROM cent),
        |a AS (SELECT MAX(n) AS n,
        |    CAST(SUM(cv * cv) AS BIGINT) AS s0,
        |    CAST(SUM(cv * l1) AS BIGINT) AS s1,
        |    CAST(SUM(cv * l2) AS BIGINT) AS s2,
        |    CAST(SUM(cv * l3) AS BIGINT) AS s3,
        |    CAST(SUM(cv * l4) AS BIGINT) AS s4,
        |    CAST(SUM(cv * l5) AS BIGINT) AS s5
        |  FROM l),
        |rr AS (SELECT n,
        |    CASE WHEN s0 > 0
        |      THEN CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE) END AS r1,
        |    CASE WHEN s0 > 0
        |      THEN CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE) END AS r2,
        |    CASE WHEN s0 > 0
        |      THEN CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE) END AS r3,
        |    CASE WHEN s0 > 0
        |      THEN CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE) END AS r4,
        |    CASE WHEN s0 > 0
        |      THEN CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE) END AS r5
        |  FROM a)
        |SELECT n AS n_days, r1, r2, r3, r4, r5,
        |  CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * (
        |    r1 * r1 / CAST(n - 1 AS DOUBLE)
        |    + r2 * r2 / CAST(n - 2 AS DOUBLE)
        |    + r3 * r3 / CAST(n - 3 AS DOUBLE)
        |    + r4 * r4 / CAST(n - 4 AS DOUBLE)
        |    + r5 * r5 / CAST(n - 5 AS DOUBLE)) AS q_lb
        |FROM rr""".stripMargin,

    "q_hurst_rs" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1)),
        |idx AS (SELECT day, v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |perw AS (SELECT w, (rn - 1) // w AS wid,
        |    (rn - 1) % w + 1 AS t, v
        |  FROM idx CROSS JOIN
        |    (SELECT CAST(UNNEST([8, 16, 32]) AS BIGINT) AS w)),
        |wins AS (SELECT w, wid, t, v,
        |    CAST(SUM(v) OVER (PARTITION BY w, wid) AS BIGINT) AS sw,
        |    CAST(SUM(v) OVER (PARTITION BY w, wid ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM perw),
        |g AS (SELECT w, wid, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(sw) AS swv, CAST(SUM(v * v) AS BIGINT) AS q,
        |    MAX(cum * w - t * sw) - MIN(cum * w - t * sw) AS ry
        |  FROM wins GROUP BY 1, 2),
        |f AS (SELECT w, CAST(round(CAST(ry AS DOUBLE)
        |      / sqrt(CAST(w * q - swv * swv AS DOUBLE)) * 1000, 0)
        |    AS BIGINT) AS rs1000
        |  FROM g WHERE n = w AND w * q - swv * swv > 0),
        |a2 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(CAST(SUM(rs1000) AS BIGINT) AS DOUBLE)
        |      / (1000.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_rs
        |  FROM f GROUP BY 1),
        |b8 AS (SELECT mean_rs AS m8 FROM a2 WHERE w = 8)
        |SELECT w, n_windows, mean_rs, mean_rs / m8 AS rs_ratio_vs8
        |FROM a2 CROSS JOIN b8 ORDER BY w""".stripMargin,

    "q_levene_bf" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |b AS (SELECT event_type, v, COUNT(*) AS c
        |      FROM ev GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt
        |      FROM ev GROUP BY 1),
        |cum AS (SELECT event_type, v, CAST(SUM(c) OVER (
        |      PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum FROM b),
        |med AS (SELECT event_type, MIN(v) AS med
        |        FROM cum JOIN t USING (event_type)
        |        WHERE cum * 2 >= nt GROUP BY 1),
        |z AS (SELECT ev.event_type, abs(v - med) AS z
        |      FROM ev JOIN med USING (event_type)),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ni,
        |    CAST(SUM(z) AS BIGINT) AS si,
        |    CAST(SUM(z * z) AS BIGINT) AS qi
        |  FROM z GROUP BY 1),
        |gt AS (SELECT ni, si, qi,
        |    CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni,
        |      0) AS BIGINT) AS s2n FROM g),
        |top AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(si) AS BIGINT) AS s,
        |    CAST(SUM(qi) AS BIGINT) AS q,
        |    CAST(SUM(s2n) AS BIGINT) AS sum_s2n FROM gt)
        |SELECT k, n,
        |  CAST(sum_s2n AS DOUBLE)
        |    - round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 0)
        |    AS ssb,
        |  CAST(q AS DOUBLE) - CAST(sum_s2n AS DOUBLE) AS ssw,
        |  ((CAST(sum_s2n AS DOUBLE)
        |      - round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 0))
        |      / (k - 1))
        |    / ((CAST(q AS DOUBLE) - CAST(sum_s2n AS DOUBLE)) / (n - k))
        |    AS f_bf
        |FROM top""".stripMargin,

    "q_page_hinkley" ->
      """WITH days AS (SELECT CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT day, x,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |    CAST(SUM(x) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumx
        |  FROM days),
        |v AS (SELECT day, x,
        |    CAST(CAST(x AS DOUBLE) - CAST(cumx AS DOUBLE) /
        |      CAST(i AS DOUBLE) - 0.5 AS DECIMAL(18,4)) AS dev
        |  FROM g),
        |u AS (SELECT day, x,
        |    SUM(dev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS uu
        |  FROM v),
        |m AS (SELECT day, x, uu,
        |    MIN(uu) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mu
        |  FROM u)
        |SELECT day, x, CAST(uu AS DOUBLE) AS u,
        |  CAST(uu - mu AS DOUBLE) AS ph,
        |  CAST(uu - mu AS DOUBLE) > 100.0 AS alarm
        |FROM m ORDER BY day""".stripMargin,

    "q_binseg_change" ->
      """WITH days AS (SELECT CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx FROM days),
        |c AS (SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |    CAST(SUM(x) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cx
        |  FROM days),
        |g AS (SELECT day, i, cx, n, sx,
        |    CAST(cx * cx AS DOUBLE) / i +
        |      CAST((sx - cx) * (sx - cx) AS DOUBLE) / (n - i) AS gain
        |  FROM c CROSS JOIN t WHERE i < n)
        |SELECT day AS split_day, n AS n_days, i AS n_before,
        |  n - i AS n_after,
        |  CAST(cx AS DOUBLE) / i AS mean_before,
        |  CAST(sx - cx AS DOUBLE) / (n - i) AS mean_after, gain
        |FROM g ORDER BY gain DESC, day LIMIT 1""".stripMargin,

    "q_dw_resid" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      - 1 AS BIGINT) AS t
        |  FROM daily),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS sx, SUM(y) AS sy,
        |    SUM(CAST(y AS DECIMAL(19,4)) * t) AS sxy,
        |    CAST(SUM(t * t) AS BIGINT) AS sxx,
        |    SUM(CAST(y AS DECIMAL(19,4)) * y) AS syy
        |  FROM idx GROUP BY 1),
        |fit AS (SELECT event_type, n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
        |    sx, sy, sxx, sxy, syy
        |  FROM m),
        |ab AS (SELECT *,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
        |  FROM fit),
        |r AS (SELECT i.event_type,
        |    CAST(CAST(i.y AS DOUBLE) - (ab.a + ab.b * i.t)
        |      AS DECIMAL(18,4)) AS q,
        |    i.t
        |  FROM idx i JOIN ab ON ab.event_type = i.event_type),
        |l AS (SELECT event_type, q, t,
        |    lag(q) OVER (PARTITION BY event_type ORDER BY t) AS qp
        |  FROM r),
        |agg AS (SELECT event_type,
        |    SUM(CAST(q AS DECIMAL(19,4)) * q) AS den,
        |    SUM(CASE WHEN qp IS NOT NULL THEN
        |      CAST(q - qp AS DECIMAL(18,4)) * CAST(q - qp AS DECIMAL(18,4))
        |      END) AS num,
        |    SUM(abs(q)) AS sabs, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM l GROUP BY 1)
        |SELECT ab.event_type, agg.n AS n_days, ab.b AS slope, ab.a
        |    AS intercept,
        |  CASE WHEN agg.den > 0 THEN CAST(agg.num AS DOUBLE)
        |    / CAST(agg.den AS DOUBLE) END AS dw,
        |  CASE WHEN CAST(ab.n AS DOUBLE) * CAST(ab.syy AS DOUBLE)
        |      - CAST(ab.sy AS DOUBLE) * CAST(ab.sy AS DOUBLE) > 0
        |    THEN ab.b * ab.b *
        |      (CAST(ab.n AS DOUBLE) * CAST(ab.sxx AS DOUBLE)
        |        - CAST(ab.sx AS DOUBLE) * CAST(ab.sx AS DOUBLE)) /
        |      (CAST(ab.n AS DOUBLE) * CAST(ab.syy AS DOUBLE)
        |        - CAST(ab.sy AS DOUBLE) * CAST(ab.sy AS DOUBLE)) END
        |    AS r2,
        |  CAST(agg.sabs AS DOUBLE) / agg.n AS mean_abs_resid
        |FROM ab JOIN agg ON agg.event_type = ab.event_type
        |ORDER BY ab.event_type""".stripMargin,
    "q_mk_trend" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    CASE WHEN b.cnt > a.cnt THEN 1
        |         WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sg
        |  FROM g a JOIN g b ON a.event_type = b.event_type
        |    AND b.day > a.day),
        |sa AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s
        |  FROM p GROUP BY event_type),
        |tv AS (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM g GROUP BY 1, 2),
        |ts AS (SELECT event_type,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
        |    CAST(SUM(t) AS BIGINT) AS n
        |  FROM tv GROUP BY event_type)
        |SELECT sa.event_type, n AS n_days, s,
        |  CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) /
        |      sqrt(CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE)
        |        / 18.0)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) /
        |      sqrt(CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE)
        |        / 18.0)
        |    ELSE 0.0 END AS z
        |FROM sa JOIN ts ON sa.event_type = ts.event_type
        |ORDER BY sa.event_type""".stripMargin,

    "q_bartels_rank" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM daily GROUP BY v),
        |r AS (SELECT v,
        |    2 * COALESCE(CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + c + 1 AS r2
        |  FROM h),
        |j AS (SELECT daily.day, r.r2,
        |    lead(r.r2, 1) OVER (ORDER BY daily.day) AS nr2
        |  FROM daily JOIN r USING (v)),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN nr2 IS NOT NULL
        |      THEN (r2 - nr2) * (r2 - nr2) ELSE 0 END) AS BIGINT)
        |      AS num2,
        |    CAST(SUM(r2 * r2) AS BIGINT) AS sr2sq
        |  FROM j)
        |SELECT n AS n_days,
        |  CASE WHEN sr2sq - n * (n + 1) * (n + 1) > 0 THEN
        |    CAST(num2 AS DOUBLE)
        |      / CAST(sr2sq - n * (n + 1) * (n + 1) AS DOUBLE) END
        |    AS rvn,
        |  CASE WHEN sr2sq - n * (n + 1) * (n + 1) > 0 THEN
        |    (CAST(num2 AS DOUBLE)
        |      / CAST(sr2sq - n * (n + 1) * (n + 1) AS DOUBLE) - 2.0)
        |      / sqrt(20.0 / CAST(5 * n + 7 AS DOUBLE)) END AS z
        |FROM a""".stripMargin,

    "q_runs_test" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, cnt,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt, day) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
        |  FROM g),
        |med AS (SELECT event_type,
        |    CAST(SUM(cnt) * 2 // COUNT(*) AS BIGINT) AS med2
        |  FROM rk WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
        |  GROUP BY event_type),
        |sg AS (SELECT g.event_type, day,
        |    CAST(2 * cnt > med2 AS BIGINT) AS above
        |  FROM g JOIN med ON g.event_type = med.event_type
        |  WHERE 2 * cnt <> med2),
        |fl AS (SELECT event_type, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY event_type
        |        ORDER BY day) IS NULL THEN 0
        |      WHEN above <> lag(above) OVER (PARTITION BY event_type
        |        ORDER BY day) THEN 1 ELSE 0 END AS flip
        |  FROM sg),
        |a AS (SELECT event_type, CAST(SUM(above) AS BIGINT) AS n1,
        |    CAST(SUM(1 - above) AS BIGINT) AS n2,
        |    CAST(SUM(flip) + 1 AS BIGINT) AS r
        |  FROM fl GROUP BY event_type)
        |SELECT event_type, n1, n2, r,
        |  (CAST(r AS DOUBLE) -
        |    (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0)) /
        |  sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS DOUBLE) /
        |    CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) AS z
        |FROM a ORDER BY event_type""".stripMargin,

    "q_pettitt" ->
      """WITH dv AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM dv GROUP BY v),
        |r AS (SELECT v,
        |    2 * COALESCE(CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + c + 1 AS mid2
        |  FROM h),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dv),
        |p AS (SELECT day,
        |    CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS t,
        |    CAST(SUM(mid2) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS sr2
        |  FROM dv JOIN r USING (v)),
        |u AS (SELECT day, t, n, t * (n + 1) - sr2 AS u
        |  FROM p CROSS JOIN t WHERE t < n),
        |z AS (SELECT day, t, n, u,
        |    ROW_NUMBER() OVER (ORDER BY abs(u) DESC, t ASC) AS rn
        |  FROM u)
        |SELECT n AS n_days, t AS t_star,
        |  strftime(day, '%Y-%m-%d') AS change_day,
        |  u AS u_stat, abs(u) AS k_stat,
        |  6.0 * CAST(abs(u) AS DOUBLE) * CAST(abs(u) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)
        |    AS k_norm
        |FROM z WHERE rn = 1""".stripMargin,

    "q_cox_stuart" ->
      """WITH dv AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |idx AS (SELECT v,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM dv),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dv),
        |a AS (SELECT idx.t, v AS va, n,
        |    idx.t + (n - n // 2) AS tb
        |  FROM idx CROSS JOIN t WHERE idx.t * 2 <= n),
        |j AS (SELECT a.n, a.va, b.v AS vb
        |  FROM a JOIN idx b ON b.t = a.tb)
        |SELECT MAX(n) AS n_days,
        |  CAST(SUM(CASE WHEN vb <> va THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs,
        |  CAST(SUM(CASE WHEN vb > va THEN 1 ELSE 0 END) AS BIGINT)
        |    AS s_plus,
        |  CASE WHEN SUM(CASE WHEN vb <> va THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(2 * SUM(CASE WHEN vb > va THEN 1 ELSE 0 END)
        |        - SUM(CASE WHEN vb <> va THEN 1 ELSE 0 END) AS DOUBLE)
        |      / sqrt(CAST(SUM(CASE WHEN vb <> va THEN 1 ELSE 0 END)
        |        AS DOUBLE)) END AS z
        |FROM j""".stripMargin,

    "q_kendall_w" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |kt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        |  FROM g),
        |bl AS (SELECT g.*, k FROM g CROSS JOIN kt
        |  QUALIFY COUNT(*) OVER (PARTITION BY day) = k),
        |rk AS (SELECT event_type, k,
        |    2 * rank() OVER (PARTITION BY day ORDER BY cnt) +
        |      COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS a2
        |  FROM bl),
        |pt AS (SELECT event_type, MAX(k) AS k,
        |    CAST(SUM(a2) AS BIGINT) AS r2,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM rk GROUP BY event_type),
        |f AS (SELECT MAX(n) AS n_blocks, MAX(k) AS k,
        |  3.0 * CAST(SUM(r2 * r2) AS BIGINT) /
        |    (MAX(n) * MAX(k) * (MAX(k) + 1)) -
        |  3.0 * MAX(n) * (MAX(k) + 1) AS chi2_f
        |FROM pt)
        |SELECT n_blocks, k, chi2_f,
        |  CASE WHEN n_blocks > 0 AND k > 1 THEN
        |    chi2_f / CAST(n_blocks * (k - 1) AS DOUBLE) END AS w
        |FROM f""".stripMargin,

    "q_quade_test" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |kt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        |  FROM g),
        |bl AS (SELECT g.*, k FROM g CROSS JOIN kt
        |  QUALIFY COUNT(*) OVER (PARTITION BY day) = k),
        |rk AS (SELECT day, event_type, k,
        |    2 * rank() OVER (PARTITION BY day ORDER BY cnt) +
        |      COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS a2
        |  FROM bl),
        |rng AS (SELECT day, MAX(cnt) - MIN(cnt) AS rng
        |  FROM bl GROUP BY day),
        |qq AS (SELECT day,
        |    2 * rank() OVER (ORDER BY rng) +
        |      COUNT(*) OVER (PARTITION BY rng) - 1 AS q2
        |  FROM rng),
        |cells AS (SELECT rk.event_type, rk.k,
        |    CAST(qq.q2 * (rk.a2 - (rk.k + 1)) AS BIGINT) AS s4
        |  FROM rk JOIN qq USING (day)),
        |pt AS (SELECT event_type, MAX(k) AS k,
        |    CAST(SUM(s4) AS BIGINT) AS t4,
        |    CAST(COUNT(*) AS BIGINT) AS b,
        |    CAST(SUM(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS a16part
        |  FROM cells GROUP BY event_type),
        |f AS (SELECT MAX(b) AS n_blocks, MAX(k) AS k,
        |    CAST(SUM(a16part) AS HUGEINT) AS a16,
        |    CAST(SUM(CAST(t4 AS HUGEINT) * t4) AS HUGEINT) AS st4sq
        |  FROM pt)
        |SELECT n_blocks, k,
        |  CASE WHEN n_blocks * a16 - st4sq > 0 THEN
        |    CAST((n_blocks - 1) * st4sq AS DOUBLE)
        |      / CAST(n_blocks * a16 - st4sq AS DOUBLE) END AS f_quade
        |FROM f""".stripMargin,

    "q_friedman_test" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |kt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
        |  FROM g),
        |bl AS (SELECT g.*, k FROM g CROSS JOIN kt
        |  QUALIFY COUNT(*) OVER (PARTITION BY day) = k),
        |rk AS (SELECT event_type, k,
        |    2 * rank() OVER (PARTITION BY day ORDER BY cnt) +
        |      COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS a2
        |  FROM bl),
        |pt AS (SELECT event_type, MAX(k) AS k,
        |    CAST(SUM(a2) AS BIGINT) AS r2,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM rk GROUP BY event_type)
        |SELECT MAX(n) AS n_blocks, MAX(k) AS k,
        |  3.0 * CAST(SUM(r2 * r2) AS BIGINT) /
        |    (MAX(n) * MAX(k) * (MAX(k) + 1)) -
        |  3.0 * MAX(n) * (MAX(k) + 1) AS chi2_f
        |FROM pt""".stripMargin,

    "q_partial_corr" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100
        |      AS BIGINT) AS yc,
        |    CAST(COUNT(*) AS BIGINT) AS zc
        |  FROM orders GROUP BY 1),
        |base AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x,
        |    COALESCE(yc, 0) AS y, COALESCE(zc, 0) AS z
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |m AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
        |    SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
        |  FROM base GROUP BY seg),
        |r AS (SELECT seg, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
        |    CAST(n * sxz - sx * sz AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
        |    CAST(n * syz - sy * sz AS DOUBLE) /
        |      sqrt(CAST(n * syy - sy * sy AS DOUBLE) *
        |           CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
        |  FROM m)
        |SELECT seg, n, rxy AS r_xy,
        |  (rxy - rxz * ryz) /
        |    sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS r_xy_given_z
        |FROM r ORDER BY seg""".stripMargin,

    "q_transition_entropy" ->
      """WITH p AS (SELECT user_id, event_type AS nxt,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS cur
        |  FROM events),
        |c AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM p WHERE cur IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT cur, c,
        |    CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT) AS nTot
        |  FROM c),
        |sc AS (SELECT cur, c, nTot,
        |    CAST(length(bin(CAST(floor(CAST(nTot AS DOUBLE) / c)
        |      AS BIGINT))) - 1 AS BIGINT) AS b FROM w)
        |SELECT cur, MAX(nTot) AS n_trans,
        |  CAST(SUM(c * b) AS BIGINT) AS sum_bits,
        |  CAST(SUM(c * b) AS DOUBLE) / MAX(nTot) AS avg_bits
        |FROM sc GROUP BY cur ORDER BY cur""".stripMargin,

    "q_seq_gaps" ->
      """WITH ids AS (SELECT event_id AS id FROM events
        |  WHERE substr(md5('gap' || CAST(event_id AS VARCHAR)), 1, 1)
        |    <> '0'),
        |l AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
        |SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
        |  id - prev - 1 AS n_missing
        |FROM l WHERE prev IS NOT NULL AND id - prev > 1
        |ORDER BY gap_start""".stripMargin,

    "q_burstiness" ->
      """WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |x AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM t GROUP BY 1, 2),
        |m AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(x) AS BIGINT) AS total,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM x GROUP BY w HAVING COUNT(*) >= 50)
        |SELECT w, df, total,
        |  CAST(nd * sxx - total * total AS DOUBLE) /
        |    CAST(nd * total AS DOUBLE) AS vmr
        |FROM m CROSS JOIN nd
        |ORDER BY vmr DESC, w LIMIT 20""".stripMargin
  )
}

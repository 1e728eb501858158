package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Classical-statistics operators (round 7, fifth block): Kaplan-Meier
  * survival summaries, moving-average seasonal decomposition, and
  * (squared-distance) silhouette clustering quality. All three carry
  * full DuckDB oracles.
  *
  * Determinism: KM folds its survival product sequentially in event-time
  * order on both engines (the q_holt_linear discipline — identical IEEE
  * op sequence, no exp/ln cumulative-product trick, which would drag in
  * libm); the decomposition quantizes deviations to an integer grid
  * before averaging; silhouette ratios divide exact int64 quantized
  * distances once per vector and are grid-quantized before the per-
  * cluster mean.
  */
object Statistics extends QueryModule {

  /** The p10..p90 quantile grid per event type over the quantized cent
    * domain (q_robust_scale discipline) — shared by q_percentile_grid
    * and the QQ drift readout.
    */
  private def quantGrid(s: SparkSession, d: String): DataFrame = {
    val ev = table(s, d, "events")
      .select(col("event_type"), col("value"))
    val wc = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ev
      .groupBy(col("event_type"),
        floor(col("value") * lit(100)).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wc))
    val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val qs = Seq(10, 25, 50, 75, 90)
    cum.join(broadcast(tot), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"),
        qs.map(q =>
          min(when(col("cum") * 100 >= col("n") * q, col("v")))
            .as(s"c$q")): _*)
      .select(col("event_type") +: col("n") +:
        qs.map(q => (col(s"c$q").cast("double") / 100.0)
          .as(s"p$q")): _*)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- Huber robust mean (round 14): 3 unrolled IRLS iterations
      // per event type — the M-estimator location that outlier-heavy
      // telemetry needs where the plain mean is dragged and the
      // median wastes efficiency. Iteration k reweights w = min(1,
      // c/|x − m_{k−1}|) and takes m_k = Σwx/Σw. Determinism: values
      // quantize to 1e-4 longs at ingest; each iteration's wx and w
      // terms quantize to DECIMAL(18,4) BEFORE the sum (order-free
      // exact addition — a raw double Σwx would vary with Spark's
      // partial-agg order), so every m_k is bit-equal across engines
      // and the next iteration's branch w<1 can never flip. Three
      // corpus scans (one per iteration) + one stats scan, all
      // map-side into per-type cells; the running m rides a broadcast
      // O(types) row. ---
      "q_huber_mean" -> ((s, d) => {
        val Cq = 500000.0 // clipping threshold: 50.0 in 1e-4 units
        val base = table(s, d, "events")
          .select(col("event_type"),
            (dec(col("value")) * 10000).cast("long").as("x"))
        val m0 = base.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"))
          .withColumn("m", expr("sx div n").cast("double"))
        def step(prev: DataFrame): DataFrame = {
          val xd = col("x").cast("double")
          val ad = abs(xd - col("m"))
          val w = when(ad <= Cq, lit(1.0)).otherwise(lit(Cq) / ad)
          base.join(broadcast(prev.select("event_type", "m")),
              "event_type")
            .groupBy("event_type")
            .agg(
              sum((w * xd).cast("decimal(18,4)")).cast("double")
                .as("st"),
              sum(w.cast("decimal(18,4)")).cast("double").as("sw"))
            .select(col("event_type"), (col("st") / col("sw")).as("m"))
        }
        val m1 = step(m0)
        val m2 = step(m1)
        val m3 = step(m2)
        val clipped = base
          .join(broadcast(m3.select(col("event_type"),
            col("m").as("mf"))), "event_type")
          .groupBy("event_type")
          .agg(sum((abs(col("x").cast("double") - col("mf")) > Cq)
            .cast("long")).as("n_clipped"))
        m0.select(col("event_type"), col("n"),
            ((col("sx").cast("double") / col("n")) / 10000.0)
              .as("mean"))
          .join(m1.select(col("event_type"),
            (col("m") / 10000.0).as("m1")), "event_type")
          .join(m2.select(col("event_type"),
            (col("m") / 10000.0).as("m2")), "event_type")
          .join(m3.select(col("event_type"),
            (col("m") / 10000.0).as("huber_mean")), "event_type")
          .join(clipped, "event_type")
          .orderBy("event_type")
      }),

      // --- ECDF probe grid (round 13): P(value <= x) per event type at
      // fixed probe points — the monitoring companion of
      // q_percentile_grid read the OTHER way around (given a threshold,
      // what share is under it — SLO-style questions). One conditional
      // aggregate per type x 4 literal probes; exact counts, one
      // division per cell. ---
      "q_ecdf" -> ((s, d) => {
        import s.implicits._
        val probes = Seq(100L, 200L, 300L, 400L).toDF("x")
        table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
          .crossJoin(broadcast(probes))
          .groupBy("event_type", "x")
          .agg(count(lit(1)).as("n"),
            sum((col("v") <= col("x")).cast("long")).cast("long")
              .as("n_le"))
          .select(col("event_type"), col("x"), col("n"), col("n_le"),
            (col("n_le").cast("double") / col("n").cast("double"))
              .as("cdf"))
          .orderBy("event_type", "x")
      }),

      // --- Bowley quartile shape card (round 16): the three robust
      // shape readouts that need only quartiles — Bowley skewness
      // (Q1+Q3−2Q2)/(Q3−Q1), the quartile coefficient of dispersion
      // (Q3−Q1)/(Q3+Q1), and Tukey's trimean (Q1+2Q2+Q3)/4 — the
      // moment-free profile a metrics platform publishes where
      // outliers make raw skewness/CV lie. Quartiles are exact
      // integer order statistics off the value histogram (cum·4 ≥ k·n
      // cross-multiplied cuts, the percentile_grid discipline); each
      // output is one fixed division off exact ints, with degenerate
      // (zero-IQR / zero-sum) guards spelled on both engines. ---
      "q_bowley_skew" -> ((s, d) => {
        val hist = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val r = hist
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
        r.groupBy("event_type")
          .agg(max("n").as("n"),
            min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
            min(when(col("cum") * 4 >= col("n") * 2, col("v")))
              .as("q2"),
            min(when(col("cum") * 4 >= col("n") * 3, col("v")))
              .as("q3"))
          .select(col("event_type"), col("n"), col("q1"), col("q2"),
            col("q3"),
            when(col("q3") > col("q1"),
              (col("q1") + col("q3") - lit(2L) * col("q2"))
                .cast("double")
                / (col("q3") - col("q1")).cast("double"))
              .as("bowley_skew"),
            when(col("q3") + col("q1") =!= 0L,
              (col("q3") - col("q1")).cast("double")
                / (col("q3") + col("q1")).cast("double")).as("qcd"),
            ((col("q1") + lit(2L) * col("q2") + col("q3"))
              .cast("double") / 4.0).as("trimean"))
          .orderBy("event_type")
      }),

      // --- Moors octile kurtosis (round 16): the quantile-based
      // kurtosis companion — ((E7−E5)+(E3−E1))/(E6−E2) over octiles —
      // completing the robust shape card where q_bowley_skew reads
      // skew; heavy tails raise it above the ~1.23 normal reference
      // without a fourth moment anywhere. Same histogram order-
      // statistic device (cum·8 ≥ k·n cuts), one terminal division,
      // zero-denominator guard both engines. ---
      "q_moors_kurtosis" -> ((s, d) => {
        val hist = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val r = hist
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
        def oct(k: Int) =
          min(when(col("cum") * 8 >= col("n") * k, col("v")))
            .as(s"e$k")
        r.groupBy("event_type")
          .agg(max("n").as("n"), oct(1), oct(2), oct(3), oct(5),
            oct(6), oct(7))
          .select(col("event_type"), col("n"), col("e1"), col("e3"),
            col("e5"), col("e7"),
            when(col("e6") > col("e2"),
              ((col("e7") - col("e5")) + (col("e3") - col("e1")))
                .cast("double")
                / (col("e6") - col("e2")).cast("double"))
              .as("moors_kurt"))
          .orderBy("event_type")
      }),

      // --- Rousseeuw-Croux Qn scale (round 16): the robust spread
      // estimator that needs NO location — the k-th order statistic
      // (k = C(h,2), h = n div 2 + 1) of all pairwise |xᵢ−xⱼ|, i<j,
      // with 82% Gaussian efficiency where MAD (q_robust_scale's
      // device) sits at 37%. The pair multiset never materializes:
      // the per-type value histogram self-joins on event_type with
      // v₂ ≥ v₁ (equi key + bounded band — V² ≤ ~250k cells per
      // type, fixed by the value domain at any SF); equal-value cells
      // carry C(c,2), cross cells c₁·c₂; the cut is the exact
      // integer cum ≥ k order statistic. Raw Qn is pure int64; the
      // Gaussian-consistent rescale (×2.21914, Croux-Rousseeuw) is
      // the only FP, one fixed literal product. ---
      "q_qn_scale" -> ((s, d) => {
        val hist = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val a = hist.select(col("event_type"), col("v").as("va"),
          col("c").as("ca"))
        val b = hist.select(col("event_type"), col("v").as("vb"),
          col("c").as("cb"))
        val pairs = a.join(b, Seq("event_type"))
          .filter(col("vb") >= col("va"))
          .groupBy(col("event_type"),
            (col("vb") - col("va")).as("diff"))
          .agg(sum(when(col("va") === col("vb"),
              expr("ca * (ca - 1) div 2"))
            .otherwise(col("ca") * col("cb"))).as("w"))
        val tot = hist.groupBy("event_type").agg(sum("c").as("n"))
          .withColumn("h", expr("n div 2 + 1"))
          .withColumn("k", expr("h * (h - 1) div 2"))
        val wc = Window.partitionBy("event_type").orderBy("diff")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pairs.withColumn("cum", sum("w").over(wc))
          .join(broadcast(tot), "event_type")
          .groupBy("event_type", "n", "k")
          .agg(min(when(col("cum") >= col("k"), col("diff")))
            .as("qn_raw"))
          .filter(col("k") >= 1)
          .select(col("event_type"), col("n"), col("k"),
            col("qn_raw"),
            (col("qn_raw").cast("double") * 2.21914).as("qn"))
          .orderBy("event_type")
      }),

      // --- EVT mean-excess card (round 16): the Pareto-tail readout
      // beside the quantile cards — e(u) = E[X−u | X>u] at the exact
      // P50/P75/P90 order-statistic thresholds; a mean excess RISING
      // in u is the heavy-tail signature (GP shape ξ>0) that decides
      // whether a capacity planner can trust Gaussian headroom.
      // Thresholds ride the cum·k ≥ n·q histogram cuts; each excess
      // mean is (Σ_{v>u} c·v − u·n_exc)/n_exc — exact int64 sums off
      // the same histogram, ONE division per threshold; empty-tail
      // (u = max) guards to NULL on both engines. ---
      "q_mean_excess" -> ((s, d) => {
        val hist = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val r = hist
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
        val cuts = r.groupBy("event_type")
          .agg(max("n").as("n"),
            min(when(col("cum") * 2 >= col("n"), col("v"))).as("u50"),
            min(when(col("cum") * 4 >= col("n") * 3, col("v")))
              .as("u75"),
            min(when(col("cum") * 10 >= col("n") * 9, col("v")))
              .as("u90"))
        val aggs = Seq("50" -> "u50", "75" -> "u75", "90" -> "u90")
          .flatMap { case (nm, u) => Seq(
            sum(when(col("v") > col(u), col("c")).otherwise(0L))
              .as(s"n$nm"),
            sum(when(col("v") > col(u), col("c") * col("v"))
              .otherwise(0L)).as(s"s$nm")) }
        hist.join(broadcast(cuts), "event_type")
          .groupBy("event_type", "n", "u50", "u75", "u90")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("event_type"), col("n"),
            col("u50"), col("n50"),
            when(col("n50") > 0, (col("s50") - col("u50") * col("n50"))
              .cast("double") / col("n50")).as("me50"),
            col("u75"), col("n75"),
            when(col("n75") > 0, (col("s75") - col("u75") * col("n75"))
              .cast("double") / col("n75")).as("me75"),
            col("u90"), col("n90"),
            when(col("n90") > 0, (col("s90") - col("u90") * col("n90"))
              .cast("double") / col("n90")).as("me90"))
          .orderBy("event_type")
      }),

      // --- exact 10% TRIMMED mean per event type (round 16): the
      // companion robust location to q_winsor_mean — winsorizing
      // CLAMPS the g extreme observations to band edges, trimming
      // DROPS exactly g = n div 10 from each end (the two react
      // differently to outlier mass, which is why robust-stats
      // dashboards publish both). Count-exact trimming off the cent
      // histogram: each bin contributes c − low − high with
      // low = min(c, max(g − prev, 0)), high = min(c, max(g −
      // above, 0)) — integer clip arithmetic, no percentile
      // interpolation, Σlow = Σhigh = g by construction. One exact
      // int64 weighted sum, ONE terminal division (to the kept count
      // n − 2g), /100 to dollars. ---
      "q_trimmed_mean" -> ((s, d) => {
        val hist = table(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * lit(100)).cast("long").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        hist
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
          .withColumn("g", expr("n div 10"))
          .withColumn("lowtake",
            least(col("c"),
              greatest(col("g") - (col("cum") - col("c")), lit(0L))))
          .withColumn("hightake",
            least(col("c"),
              greatest(col("g") - (col("n") - col("cum")), lit(0L))))
          .groupBy("event_type")
          .agg(max("n").as("n"), max("g").as("g"),
            sum(col("c") * col("v")).as("s_all"),
            sum((col("c") - col("lowtake") - col("hightake"))
              * col("v")).as("s_trim"))
          .select(col("event_type"), col("n"), col("g"),
            (col("s_all").cast("double") / col("n") / 100.0)
              .as("mean_raw"),
            when(col("n") - col("g") * 2L > 0,
              col("s_trim").cast("double")
                / (col("n") - col("g") * 2L) / 100.0)
              .as("trimmed_mean"))
          .orderBy("event_type")
      }),

      // --- banded WINSORIZED mean per event type (round 13): the
      // robust-mean sibling of q_percentile_grid — clamp each value to
      // the [P05, P95] band boundaries before averaging, the standard
      // outlier-resistant location estimate a metrics platform
      // publishes next to the raw mean. Winsorization happens on the
      // whole-dollar BAND grid (the quantized-domain discipline), so
      // the clamp, the band order statistics (cum·20 >= n and
      // cum·20 >= 19·n — cross-multiplied, no percent float), and the
      // clamped sum are ALL exact int64; ONE division renders the
      // mean. One histogram pass, O(types × bands) state. ---
      "q_winsor_mean" -> ((s, d) => {
        val t = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
        val bd = t.groupBy("event_type", "v")
          .agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
        val cum = bd.withColumn("cum", sum("c").over(wb))
        val nn = t.groupBy("event_type").agg(count(lit(1)).as("n"))
        val qs = cum.join(broadcast(nn), "event_type")
          .groupBy("event_type", "n")
          .agg(min(when(col("cum") * 20 >= col("n"), col("v")))
              .as("p05_v"),
            min(when(col("cum") * 20 >= col("n") * 19, col("v")))
              .as("p95_v"))
        bd.join(broadcast(qs), "event_type")
          .groupBy("event_type")
          .agg(max("n").cast("long").as("n"),
            max("p05_v").cast("long").as("p05_v"),
            max("p95_v").cast("long").as("p95_v"),
            sum(col("c") * greatest(least(col("v"), col("p95_v")),
              col("p05_v"))).cast("long").as("wsum"))
          .select(col("event_type"), col("n"), col("p05_v"),
            col("p95_v"),
            (col("wsum").cast("double") / col("n").cast("double"))
              .as("winsor_mean"))
          .orderBy("event_type")
      }),

      // --- Tukey-fence outlier census per event type (round 13): the
      // box-plot outlier rule (beyond Q1 − 1.5·IQR / Q3 + 1.5·IQR) as
      // a one-pass banded census. The half-unit fences are
      // cross-multiplied to integers — outlier iff 2·v < 2·Q1 − 3·IQR
      // or 2·v > 2·Q3 + 3·IQR — so the whole census is exact int64;
      // the only double is the final share division. ---
      "q_tukey_outliers" -> ((s, d) => {
        val t = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
        val bd = t.groupBy("event_type", "v")
          .agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
        val cum = bd.withColumn("cum", sum("c").over(wb))
        val nn = t.groupBy("event_type").agg(count(lit(1)).as("n"))
        val qs = cum.join(broadcast(nn), "event_type")
          .groupBy("event_type", "n")
          .agg(min(when(col("cum") * 4 >= col("n"), col("v")))
              .as("q1"),
            min(when(col("cum") * 4 >= col("n") * 3, col("v")))
              .as("q3"))
          .withColumn("iqr", col("q3") - col("q1"))
        bd.join(broadcast(qs), "event_type")
          .groupBy("event_type")
          .agg(max("n").cast("long").as("n"),
            max("q1").cast("long").as("q1"),
            max("q3").cast("long").as("q3"),
            max("iqr").cast("long").as("iqr"),
            sum(when(
              col("v") * 2 < col("q1") * 2 - col("iqr") * 3 ||
                col("v") * 2 > col("q3") * 2 + col("iqr") * 3,
              col("c")).otherwise(0L)).cast("long").as("n_outliers"))
          .select(col("event_type"), col("n"), col("q1"), col("q3"),
            col("iqr"), col("n_outliers"),
            (col("n_outliers").cast("double") / col("n").cast("double"))
              .as("outlier_share"))
          .orderBy("event_type")
      }),

      // --- quantile-profile grid (round 9): p10/p25/p50/p75/p90 of
      // the event value per type in ONE histogram pass — the
      // monitoring profile a latency/size dashboard reads. The order
      // statistics are exact over the quantized CENT domain (the
      // q_robust_scale discipline: the cumulative window runs over the
      // O(types × cents) bucket relation, never rows) with the
      // exact-integer threshold read cum·100 ≥ n·q — percentile_disc
      // semantics with zero FP in the rank compare. ---
      "q_percentile_grid" -> ((s, d) => quantGrid(s, d)
        .orderBy("event_type")),

      // --- QQ drift grid (round 9): each event type's quantile grid
      // side-by-side with the 'view' baseline — the quantile-domain
      // drift readout (a PSI/KS complement that says WHERE in the
      // distribution two types diverge, not just that they do). One
      // shared cent-histogram grid pass; the 5-row baseline broadcasts
      // into the stacked (type, q) relation; gaps are exact-cent
      // double differences. ---
      "q_qq_grid" -> ((s, d) => {
        val longG = quantGrid(s, d).selectExpr("event_type",
          "stack(5, 10, p10, 25, p25, 50, p50, 75, p75, 90, p90) " +
            "AS (q, v)")
        val base = longG.filter(col("event_type") === "view")
          .select(col("q"), col("v").as("v_base"))
        longG.join(broadcast(base), "q")
          .select(col("event_type"), col("q").cast("long").as("q"),
            col("v"), col("v_base"),
            (col("v") - col("v_base")).as("gap"))
          .orderBy("event_type", "q")
      }),

      // --- Kaplan-Meier survival summary per cohort (cohort = the
      // user's first event type; duration = days from first to last
      // event; censored = still active within 7 days of corpus end).
      // Per-user spans reduce map-side off ONE user-hash aggregate;
      // per-(cohort, duration) death/censor counts are O(cohorts x
      // days) — time-sized, never corpus-sized — and the KM product
      // S = PRODUCT(1 - d_i/n_i) folds once through each cohort's
      // sorted timeline (state = survival, at-risk count, median
      // tracker), emitting final survival, the median survival time,
      // and totals. The fold is the aggregate() HOF — sequential IEEE
      // order matches the oracle's recursive CTE exactly. ---
      // --- Nelson-Aalen cumulative hazard (round 15): the additive
      // companion to q_survival_km's product-limit curve — Ĥ(t) =
      // Σ_{s≤t} d_s/n_s over weekly duration bands per first-event
      // cohort, preferred over −ln(KM) for its small-risk-set bias
      // behavior. Same span derivation as KM (per-user first/last
      // event, censored inside the trailing 7-day observation edge);
      // each band's hazard increment is EXACT: (d·1e9) div n_at_risk
      // int64 (d ≤ 1e9 users before overflow — a fleet recast rides
      // DECIMAL(38,0)), and the cumulative sum is a window over the
      // O(cohorts × weeks) grid, so the hash never sees an FP Σ. The
      // at-risk count derives from the same grid (total minus prior
      // bands). One shuffle on user_id; grid windows are post-agg. ---
      "q_nelson_aalen" -> ((s, d) => {
        val ev = table(s, d, "events")
        val maxTs = ev.agg(max("ts").as("mx"))
        val spans = ev
          .groupBy("user_id")
          .agg(
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("cohort"),
            min("ts").as("t0"), max("ts").as("t1"))
          .crossJoin(broadcast(maxTs))
          .select(col("cohort"),
            (datediff(col("t1").cast("date"), col("t0").cast("date"))
              .cast("long")).as("dur"),
            (col("t1") < col("mx") - expr("interval 7 days"))
              .cast("long").as("death"))
          .select(col("cohort"), expr("dur div 7").as("wk"),
            col("death"))
        val grid = spans.groupBy("cohort", "wk")
          .agg(sum("death").as("d"),
            sum(lit(1L) - col("death")).as("c"))
        val tot = grid.groupBy("cohort")
          .agg(sum(col("d") + col("c")).as("nt"))
        val prior = Window.partitionBy("cohort").orderBy("wk")
          .rowsBetween(Window.unboundedPreceding, -1)
        val run = Window.partitionBy("cohort").orderBy("wk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(broadcast(tot), "cohort")
          .withColumn("at_risk", col("nt")
            - coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
          .withColumn("term", expr("(d * 1000000000) div at_risk"))
          .withColumn("hs", sum("term").over(run))
          .select(col("cohort"), col("wk"), col("at_risk"), col("d"),
            (col("hs").cast("double") / 1e9).as("h"))
          .orderBy("cohort", "wk")
      }),

      // --- actuarial life table (round 16): the interval-grouped
      // third member of the survival block — KM multiplies at event
      // times, Nelson-Aalen adds hazard increments; the life table is
      // what an actuary/capacity planner publishes per weekly band,
      // with the ACTUARIAL EXPOSURE adjustment n′ = n − c/2 (within-
      // band censored users count half a band at risk — the
      // correction both siblings skip). The ×2 device keeps it exact:
      // q_w = d/(n − c/2) = 2d/(2n − c), shipped as the integer
      // (2d·10⁹) div (2n−c) nano-grid plus its double render (the
      // Nelson-Aalen term discipline; 2n−c ≥ 1 whenever the band
      // exists, so no zero guard is reachable). Same one-shuffle span
      // derivation; O(cohorts × weeks) everywhere downstream. ---
      "q_life_table" -> ((s, d) => {
        val ev = table(s, d, "events")
        val maxTs = ev.agg(max("ts").as("mx"))
        val spans = ev
          .groupBy("user_id")
          .agg(
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("cohort"),
            min("ts").as("t0"), max("ts").as("t1"))
          .crossJoin(broadcast(maxTs))
          .select(col("cohort"),
            (datediff(col("t1").cast("date"), col("t0").cast("date"))
              .cast("long")).as("dur"),
            (col("t1") < col("mx") - expr("interval 7 days"))
              .cast("long").as("death"))
          .select(col("cohort"), expr("dur div 7").as("wk"),
            col("death"))
        val grid = spans.groupBy("cohort", "wk")
          .agg(sum("death").as("d"),
            sum(lit(1L) - col("death")).as("c"))
        val tot = grid.groupBy("cohort")
          .agg(sum(col("d") + col("c")).as("nt"))
        val prior = Window.partitionBy("cohort").orderBy("wk")
          .rowsBetween(Window.unboundedPreceding, -1)
        grid.join(broadcast(tot), "cohort")
          .withColumn("at_risk", col("nt")
            - coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
          .withColumn("exposure2",
            col("at_risk") * 2L - col("c"))
          .withColumn("q9",
            expr("(d * 2000000000) div exposure2"))
          .select(col("cohort"), col("wk"), col("at_risk"), col("d"),
            col("c"),
            (col("q9").cast("double") / 1e9).as("q_w"))
          .orderBy("cohort", "wk")
      }),

      "q_survival_km" -> ((s, d) => {
        val ev = table(s, d, "events")
        val maxTs = ev.agg(max("ts").as("mx"))
        val spans = ev
          .groupBy("user_id")
          .agg(
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("cohort"),
            min("ts").as("t0"), max("ts").as("t1"))
          .crossJoin(broadcast(maxTs))
          .select(col("cohort"),
            datediff(col("t1").cast("date"), col("t0").cast("date"))
              .cast("long").as("dur"),
            (col("t1") < col("mx") - expr("interval 7 days"))
              .cast("long").as("death"))
        val grid = spans.groupBy("cohort", "dur")
          .agg(sum("death").as("d"),
            sum(lit(1L) - col("death")).as("c"))
        grid.groupBy("cohort")
          .agg(sort_array(collect_list(struct(col("dur"), col("d"),
              col("c")))).as("tl"),
            sum(col("d") + col("c")).as("n_users"),
            sum("d").as("n_deaths"))
          .select(col("cohort"), col("n_users"), col("n_deaths"),
            aggregate(col("tl"),
              struct(lit(1.0).as("s"),
                col("n_users").cast("double").as("n"),
                lit(-1L).as("med")),
              (acc, x) => {
                val sNew = acc.getField("s") *
                  (lit(1.0) - x.getField("d").cast("double") /
                    acc.getField("n"))
                struct(
                  sNew.as("s"),
                  (acc.getField("n") -
                    (x.getField("d") + x.getField("c")).cast("double"))
                    .as("n"),
                  when(acc.getField("med") >= 0, acc.getField("med"))
                    .when(sNew <= 0.5, x.getField("dur"))
                    .otherwise(lit(-1L)).as("med"))
              }).as("st"))
          .select(col("cohort"), col("n_users"), col("n_deaths"),
            col("st.s").as("s_final"),
            col("st.med").as("median_dur"))
          .orderBy("cohort")
      }),

      // --- two-group log-rank test (round 16): does one arm of the
      // deterministic user_id%2 split (the q_cvm_test arm device)
      // retain users longer than the other — the significance test
      // beside q_survival_km's curve and q_nelson_aalen's hazard.
      // Same span derivation as KM (per-user first→last event span,
      // censored inside the trailing 7-day observation edge). At each
      // pooled death time the hypergeometric moments are exact ints
      // off the calendar-sized duration grid: at-risk counts come
      // from a bounded dur≥t broadcast theta join over that grid
      // (days × days rows, never a corpus self-join). The per-time
      // E₁ and V terms are FIXED double trees quantized to 1e-6
      // BEFORE the cross-time sum (the q_smape discipline), so the
      // hash never sees an order-dependent FP Σ; χ² = (O₁−E₁)²/V is
      // the single terminal assembly. One shuffle on user_id; all
      // downstream relations are duration-grid-sized. ---
      "q_logrank" -> ((s, d) => {
        val ev = table(s, d, "events")
        val maxTs = ev.agg(max("ts").as("mx"))
        val spans = ev.groupBy("user_id")
          .agg(min("ts").as("t0"), max("ts").as("t1"))
          .crossJoin(broadcast(maxTs))
          .select((col("user_id") % 2).as("grp"),
            datediff(col("t1").cast("date"), col("t0").cast("date"))
              .cast("long").as("dur"),
            (col("t1") < col("mx") - expr("interval 7 days"))
              .cast("long").as("death"))
        val grid = spans.groupBy("dur")
          .agg(sum(when(col("grp") === 1, col("death")).otherwise(0L))
              .as("d1"),
            sum("death").as("dt"),
            sum((col("grp") === 1).cast("long")).as("t1c"),
            count(lit(1)).as("tc"))
        val deaths = grid.filter(col("dt") > 0)
          .select(col("dur").as("td"), col("d1"), col("dt"))
        val atr = deaths
          .join(broadcast(grid.select(col("dur"), col("t1c"),
            col("tc"))), col("dur") >= col("td"))
          .groupBy("td", "d1", "dt")
          .agg(sum("t1c").as("n1"), sum("tc").as("n"))
        val e1 = col("dt").cast("double") * col("n1") / col("n")
        val v = when(col("n") > 1,
          col("dt").cast("double") * col("n1") *
            (col("n") - col("n1")) * (col("n") - col("dt")) /
            (col("n").cast("double") * col("n") * (col("n") - 1)))
          .otherwise(lit(0.0))
        val tots = grid.agg(sum("t1c").as("n1_users"),
          (sum("tc") - sum("t1c")).as("n0_users"))
        atr.agg(sum("d1").as("o1"), sum("dt").as("d_total"),
            sum(round(e1 * 1e6, 0).cast("long")).as("e1q"),
            sum(round(v * 1e6, 0).cast("long")).as("vq"))
          .crossJoin(broadcast(tots))
          .select(col("n1_users"), col("n0_users"), col("o1"),
            (col("d_total") - col("o1")).as("o0"),
            (col("e1q").cast("double") / 1e6).as("e1"),
            (col("d_total").cast("double")
              - col("e1q").cast("double") / 1e6).as("e0"),
            when(col("vq") > 0,
              (col("o1").cast("double")
                - col("e1q").cast("double") / 1e6) *
                (col("o1").cast("double")
                  - col("e1q").cast("double") / 1e6) /
                (col("vq").cast("double") / 1e6)).as("chisq"))
      }),

      // --- moving-average seasonal decomposition (STL-lite): the trend
      // is a centered 7-day moving average of the daily series (full
      // windows only), the day-of-week seasonal index is the mean
      // detrended deviation — with each deviation quantized to a 1e-4
      // grid BEFORE averaging, so the per-dow mean is an exact integer
      // sum with one terminal division (raw double deviations summed
      // in group order would hash-diverge). Windows partition per
      // event type; everything downstream of the daily aggregate is
      // time-sized. ---
      "q_seasonal_decompose" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(D).as("y"))
        val wt = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-3, 3)
        val trended = daily
          .withColumn("wn", count(lit(1)).over(wt))
          .withColumn("ws", sum("y").over(wt))
          .filter(col("wn") === 7)
          .select(col("event_type"), col("day"),
            col("y").cast("double").as("yd"),
            (col("ws").cast("double") / lit(7.0)).as("trend"))
        trended
          .select(col("event_type"),
            // ISO day-of-week (Mon=1..Sun=7): Spark's dayofweek is
            // Sun=1 while DuckDB's is Sun=0 — weekday()+1 == isodow
            (weekday(col("day")) + 1).cast("long").as("dow"),
            round((col("yd") - col("trend")) * 10000, 0).cast("long")
              .as("devq"))
          .groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n_days"),
            (sum("devq").cast("double") /
              (count(lit(1)) * 10000).cast("double")).as("seasonal"))
          .orderBy("event_type", "dow")
      }),

      // --- silhouette clustering quality (squared-distance variant)
      // of the IVF seed assignment: per vector, a = squared distance
      // to its own centroid, b = to the runner-up, s = (b-a)/max(a,b)
      // in [-1,1]. Distances are exact int64 on quantized vectors
      // (d2 = |x|2 + |c|2 - 2xc, the q_pq_assign discipline); the 16
      // centroids broadcast; own/runner-up fall out of ONE sorted
      // 16-element array per vector (never a row_number window over
      // the 16x|corpus| scored relation); each s is one IEEE division,
      // grid-quantized to 1e-4 before the per-cluster mean so the
      // aggregate is an exact integer sum. The readout that says
      // whether the ANN index's partitions actually separate. ---
      "q_silhouette" -> ((s, d) => {
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("q"))
          .withColumn("nn", Similarity.dotQ(col("q"), col("q")))
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("q").as("cq"),
            col("nn").as("cn"))
        val scored = e.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            struct(
              (col("nn") + col("cn") -
                lit(2L) * Similarity.dotQ(col("q"), col("cq")))
                .as("d2"),
              col("cent_id")).as("sc"))
          .groupBy("vec_id")
          .agg(slice(sort_array(collect_list(col("sc"))), 1, 2)
            .as("top2"))
        val sil = scored.select(col("vec_id"),
            element_at(col("top2"), 1).getField("cent_id").as("bucket"),
            element_at(col("top2"), 1).getField("d2").as("a2"),
            element_at(col("top2"), 2).getField("d2").as("b2"))
          .select(col("bucket"),
            round(((col("b2") - col("a2")).cast("double") /
              greatest(col("a2"), col("b2")).cast("double")) * 10000, 0)
              .cast("long").as("sq"))
        sil.groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            (sum("sq").cast("double") /
              (count(lit(1)) * 10000).cast("double"))
              .as("mean_silhouette"))
          .orderBy("bucket")
      }),

      // --- distribution-free median CI: the order-statistic interval
      // [X_(l), X_(u)] with l = ⌊(n − z√n)/2⌋, u = ⌈1 + (n + z√n)/2⌉
      // (z = 1.959963985, a literal — no inverse normal), the
      // assumption-free uncertainty every median readout should ship
      // with. All three ranks select against the SAME cumulative over
      // the quantized cent domain (the quantile-grid discipline —
      // windows over O(types × cents) buckets, never rows); the rank
      // arithmetic is floor/ceil of an identical sqrt tree on both
      // engines, then pure integer threshold reads. ---
      "q_median_ci" -> ((s, d) => {
        val dom = table(s, d, "events")
          .groupBy(col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = dom.withColumn("cum", sum("c").over(wc))
        val t = table(s, d, "events").groupBy("event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("k_med", expr("(n + 1) div 2"))
          .withColumn("k_lo", greatest(lit(1L),
            floor((col("n").cast("double") -
              lit(1.959963985) * sqrt(col("n").cast("double"))) / 2.0)
              .cast("long")))
          .withColumn("k_hi", least(col("n"),
            ceil(lit(1.0) + (col("n").cast("double") +
              lit(1.959963985) * sqrt(col("n").cast("double"))) / 2.0)
              .cast("long")))
        cum.join(broadcast(t), "event_type")
          .groupBy("event_type")
          .agg(max("n").as("n"), max("k_lo").as("k_lo"),
            max("k_hi").as("k_hi"),
            (min(when(col("cum") >= col("k_med"), col("v")))
              .cast("double") / 100.0).as("median"),
            (min(when(col("cum") >= col("k_lo"), col("v")))
              .cast("double") / 100.0).as("ci_lo"),
            (min(when(col("cum") >= col("k_hi"), col("v")))
              .cast("double") / 100.0).as("ci_hi"))
          .orderBy("event_type")
      }))

  /** DuckDB CTE `g(event_type, n, p10..p90)` — twin of [[quantGrid]]. */
  private val quantGridCte: String = {
    val picks = Seq(10, 25, 50, 75, 90).map(q =>
      s"""CAST(MIN(CASE WHEN cum * 100 >= n * $q THEN v END)
         |    AS DOUBLE) / 100.0 AS p$q""".stripMargin).mkString(",\n|  ")
    s"""b AS (SELECT event_type,
       |    CAST(floor(value * 100) AS BIGINT) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |cm AS (SELECT event_type, v, c,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
       |      AS BIGINT) AS cum
       |  FROM b),
       |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |g AS (SELECT event_type, MAX(n) AS n,
       |  $picks
       |FROM cm JOIN t USING (event_type)
       |GROUP BY event_type)""".stripMargin
  }

  override def oracle: Map[String, String] = Map(

    "q_trimmed_mean" ->
      """WITH h AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |k AS (SELECT event_type, v, c, n, n // 10 AS g,
        |    least(c, greatest((n // 10) - (cum - c), 0)) AS lowtake,
        |    least(c, greatest((n // 10) - (n - cum), 0)) AS hightake
        |  FROM r),
        |a AS (SELECT event_type, MAX(n) AS n, MAX(g) AS g,
        |    CAST(SUM(c * v) AS BIGINT) AS s_all,
        |    CAST(SUM((c - lowtake - hightake) * v) AS BIGINT) AS s_trim
        |  FROM k GROUP BY event_type)
        |SELECT event_type, n, g,
        |  CAST(s_all AS DOUBLE) / n / 100.0 AS mean_raw,
        |  CASE WHEN n - 2 * g > 0 THEN
        |    CAST(s_trim AS DOUBLE) / (n - 2 * g) / 100.0 END
        |    AS trimmed_mean
        |FROM a ORDER BY event_type""".stripMargin,

    "q_qn_scale" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type AS event_type, b.v - a.v AS diff,
        |    CAST(SUM(CASE WHEN a.v = b.v THEN a.c * (a.c - 1) // 2
        |      ELSE a.c * b.c END) AS BIGINT) AS w
        |  FROM h a JOIN h b ON a.event_type = b.event_type
        |    AND b.v >= a.v
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |    (CAST(SUM(c) AS BIGINT) // 2 + 1)
        |      * (CAST(SUM(c) AS BIGINT) // 2) // 2 AS k
        |  FROM h GROUP BY 1),
        |cw AS (SELECT event_type, diff,
        |    CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY diff
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM p)
        |SELECT cw.event_type, t.n, t.k,
        |  MIN(CASE WHEN cum >= k THEN diff END) AS qn_raw,
        |  CAST(MIN(CASE WHEN cum >= k THEN diff END) AS DOUBLE)
        |    * 2.21914 AS qn
        |FROM cw JOIN t USING (event_type)
        |WHERE k >= 1
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    "q_mean_excess" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |q AS (SELECT event_type, MAX(n) AS n,
        |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS u50,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS u75,
        |    MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS u90
        |  FROM r GROUP BY event_type),
        |a AS (SELECT h.event_type AS event_type, q.n, q.u50, q.u75,
        |    q.u90,
        |    CAST(SUM(CASE WHEN v > u50 THEN c ELSE 0 END) AS BIGINT)
        |      AS n50,
        |    CAST(SUM(CASE WHEN v > u50 THEN c * v ELSE 0 END)
        |      AS BIGINT) AS s50,
        |    CAST(SUM(CASE WHEN v > u75 THEN c ELSE 0 END) AS BIGINT)
        |      AS n75,
        |    CAST(SUM(CASE WHEN v > u75 THEN c * v ELSE 0 END)
        |      AS BIGINT) AS s75,
        |    CAST(SUM(CASE WHEN v > u90 THEN c ELSE 0 END) AS BIGINT)
        |      AS n90,
        |    CAST(SUM(CASE WHEN v > u90 THEN c * v ELSE 0 END)
        |      AS BIGINT) AS s90
        |  FROM h JOIN q USING (event_type)
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT event_type, n, u50, n50,
        |  CASE WHEN n50 > 0 THEN
        |    CAST(s50 - u50 * n50 AS DOUBLE) / n50 END AS me50,
        |  u75, n75,
        |  CASE WHEN n75 > 0 THEN
        |    CAST(s75 - u75 * n75 AS DOUBLE) / n75 END AS me75,
        |  u90, n90,
        |  CASE WHEN n90 > 0 THEN
        |    CAST(s90 - u90 * n90 AS DOUBLE) / n90 END AS me90
        |FROM a ORDER BY event_type""".stripMargin,

    "q_logrank" ->
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |sp AS (SELECT user_id % 2 AS grp,
        |    CAST(date_diff('day', CAST(min(ts) AS DATE),
        |      CAST(max(ts) AS DATE)) AS BIGINT) AS dur,
        |    CAST(max(ts) < (SELECT mx FROM mx) - INTERVAL 7 DAY
        |      AS BIGINT) AS death
        |  FROM events GROUP BY user_id),
        |grid AS (SELECT dur,
        |    CAST(SUM(CASE WHEN grp = 1 THEN death ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(death) AS BIGINT) AS dt,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t1c,
        |    CAST(COUNT(*) AS BIGINT) AS tc
        |  FROM sp GROUP BY dur),
        |deaths AS (SELECT dur AS td, d1, dt FROM grid WHERE dt > 0),
        |atr AS (SELECT td, dd.d1 AS d1, dd.dt AS dt,
        |    CAST(SUM(g.t1c) AS BIGINT) AS n1,
        |    CAST(SUM(g.tc) AS BIGINT) AS n
        |  FROM deaths dd JOIN grid g ON g.dur >= dd.td
        |  GROUP BY 1, 2, 3),
        |terms AS (SELECT
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(dt) AS BIGINT) AS d_total,
        |    CAST(SUM(CAST(round(CAST(dt AS DOUBLE) * n1 / n
        |      * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS e1q,
        |    CAST(SUM(CAST(round(CASE WHEN n > 1 THEN
        |        CAST(dt AS DOUBLE) * n1 * (n - n1) * (n - dt)
        |          / (CAST(n AS DOUBLE) * n * (n - 1))
        |      ELSE 0.0 END * 1000000.0, 0) AS BIGINT)) AS BIGINT)
        |      AS vq
        |  FROM atr),
        |tot AS (SELECT CAST(SUM(t1c) AS BIGINT) AS n1_users,
        |    CAST(SUM(tc) - SUM(t1c) AS BIGINT) AS n0_users FROM grid)
        |SELECT n1_users, n0_users, o1,
        |  CAST(d_total - o1 AS BIGINT) AS o0,
        |  CAST(e1q AS DOUBLE) / 1000000.0 AS e1,
        |  CAST(d_total AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0
        |    AS e0,
        |  CASE WHEN vq > 0 THEN
        |    (CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0)
        |      * (CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1000000.0)
        |      / (CAST(vq AS DOUBLE) / 1000000.0) END AS chisq
        |FROM terms CROSS JOIN tot""".stripMargin,

    "q_bowley_skew" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, v,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |q AS (SELECT event_type, MAX(n) AS n,
        |    MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |    MIN(CASE WHEN cum * 4 >= n * 2 THEN v END) AS q2,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n, q1, q2, q3,
        |  CASE WHEN q3 > q1 THEN CAST(q1 + q3 - 2 * q2 AS DOUBLE)
        |    / CAST(q3 - q1 AS DOUBLE) END AS bowley_skew,
        |  CASE WHEN q3 + q1 <> 0 THEN CAST(q3 - q1 AS DOUBLE)
        |    / CAST(q3 + q1 AS DOUBLE) END AS qcd,
        |  CAST(q1 + 2 * q2 + q3 AS DOUBLE) / 4.0 AS trimean
        |FROM q ORDER BY event_type""".stripMargin,

    "q_moors_kurtosis" ->
      """WITH h AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, v,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h),
        |q AS (SELECT event_type, MAX(n) AS n,
        |    MIN(CASE WHEN cum * 8 >= n THEN v END) AS e1,
        |    MIN(CASE WHEN cum * 8 >= n * 2 THEN v END) AS e2,
        |    MIN(CASE WHEN cum * 8 >= n * 3 THEN v END) AS e3,
        |    MIN(CASE WHEN cum * 8 >= n * 5 THEN v END) AS e5,
        |    MIN(CASE WHEN cum * 8 >= n * 6 THEN v END) AS e6,
        |    MIN(CASE WHEN cum * 8 >= n * 7 THEN v END) AS e7
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n, e1, e3, e5, e7,
        |  CASE WHEN e6 > e2 THEN
        |    CAST((e7 - e5) + (e3 - e1) AS DOUBLE)
        |      / CAST(e6 - e2 AS DOUBLE) END AS moors_kurt
        |FROM q ORDER BY event_type""".stripMargin,

    "q_huber_mean" ->
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
        |  FROM events),
        |s0 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx FROM b GROUP BY 1),
        |m0 AS (SELECT event_type, n, sx, CAST(sx // n AS DOUBLE) AS m
        |  FROM s0),
        |i1 AS (SELECT b.event_type,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0
        |        THEN CAST(x AS DOUBLE)
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m)
        |        * CAST(x AS DOUBLE) END AS DECIMAL(18,4))) AS DOUBLE)
        |      AS st,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0 THEN 1.0
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m) END
        |      AS DECIMAL(18,4))) AS DOUBLE) AS sw
        |  FROM b JOIN m0 USING (event_type) GROUP BY 1),
        |m1 AS (SELECT event_type, st / sw AS m FROM i1),
        |i2 AS (SELECT b.event_type,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0
        |        THEN CAST(x AS DOUBLE)
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m)
        |        * CAST(x AS DOUBLE) END AS DECIMAL(18,4))) AS DOUBLE)
        |      AS st,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0 THEN 1.0
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m) END
        |      AS DECIMAL(18,4))) AS DOUBLE) AS sw
        |  FROM b JOIN m1 USING (event_type) GROUP BY 1),
        |m2 AS (SELECT event_type, st / sw AS m FROM i2),
        |i3 AS (SELECT b.event_type,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0
        |        THEN CAST(x AS DOUBLE)
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m)
        |        * CAST(x AS DOUBLE) END AS DECIMAL(18,4))) AS DOUBLE)
        |      AS st,
        |    CAST(SUM(CAST(CASE
        |      WHEN abs(CAST(x AS DOUBLE) - m) <= 500000.0 THEN 1.0
        |      ELSE 500000.0 / abs(CAST(x AS DOUBLE) - m) END
        |      AS DECIMAL(18,4))) AS DOUBLE) AS sw
        |  FROM b JOIN m2 USING (event_type) GROUP BY 1),
        |m3 AS (SELECT event_type, st / sw AS m FROM i3),
        |cl AS (SELECT b.event_type,
        |    CAST(SUM(CASE WHEN abs(CAST(x AS DOUBLE) - m) > 500000.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM b JOIN m3 USING (event_type) GROUP BY 1)
        |SELECT m0.event_type, n,
        |  (CAST(sx AS DOUBLE) / n) / 10000.0 AS mean,
        |  m1.m / 10000.0 AS m1, m2.m / 10000.0 AS m2,
        |  m3.m / 10000.0 AS huber_mean, n_clipped
        |FROM m0 JOIN m1 USING (event_type) JOIN m2 USING (event_type)
        |  JOIN m3 USING (event_type) JOIN cl USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q_ecdf" ->
      """WITH t AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v FROM events),
        |b AS (SELECT unnest([CAST(100 AS BIGINT), CAST(200 AS BIGINT),
        |    CAST(300 AS BIGINT), CAST(400 AS BIGINT)]) AS x)
        |SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN v <= x THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_le,
        |  CAST(SUM(CASE WHEN v <= x THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS cdf
        |FROM t CROSS JOIN b GROUP BY event_type, x
        |ORDER BY event_type, x""".stripMargin,

    "q_winsor_mean" ->
      """WITH t AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v FROM events),
        |bd AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM t GROUP BY 1, 2),
        |cm AS (SELECT event_type, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM bd),
        |nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM t GROUP BY 1),
        |qs AS (SELECT cm.event_type, nn.n,
        |    CAST(MIN(CASE WHEN cum * 20 >= n THEN v END) AS BIGINT)
        |      AS p05_v,
        |    CAST(MIN(CASE WHEN cum * 20 >= n * 19 THEN v END)
        |      AS BIGINT) AS p95_v
        |  FROM cm JOIN nn USING (event_type)
        |  GROUP BY cm.event_type, nn.n)
        |SELECT bd.event_type, MAX(qs.n) AS n,
        |  MAX(qs.p05_v) AS p05_v, MAX(qs.p95_v) AS p95_v,
        |  CAST(SUM(bd.c * GREATEST(LEAST(bd.v, qs.p95_v), qs.p05_v))
        |      AS DOUBLE) / CAST(MAX(qs.n) AS DOUBLE) AS winsor_mean
        |FROM bd JOIN qs USING (event_type)
        |GROUP BY bd.event_type ORDER BY bd.event_type""".stripMargin,

    "q_tukey_outliers" ->
      """WITH t AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v FROM events),
        |bd AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM t GROUP BY 1, 2),
        |cm AS (SELECT event_type, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM bd),
        |nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM t GROUP BY 1),
        |qs AS (SELECT cm.event_type, nn.n,
        |    CAST(MIN(CASE WHEN cum * 4 >= n THEN v END) AS BIGINT)
        |      AS q1,
        |    CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS BIGINT)
        |      AS q3
        |  FROM cm JOIN nn USING (event_type)
        |  GROUP BY cm.event_type, nn.n)
        |SELECT bd.event_type, MAX(qs.n) AS n,
        |  MAX(qs.q1) AS q1, MAX(qs.q3) AS q3,
        |  MAX(qs.q3 - qs.q1) AS iqr,
        |  CAST(SUM(CASE WHEN bd.v * 2 < qs.q1 * 2 - (qs.q3 - qs.q1) * 3
        |      OR bd.v * 2 > qs.q3 * 2 + (qs.q3 - qs.q1) * 3
        |    THEN bd.c ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN bd.v * 2 < qs.q1 * 2 - (qs.q3 - qs.q1) * 3
        |      OR bd.v * 2 > qs.q3 * 2 + (qs.q3 - qs.q1) * 3
        |    THEN bd.c ELSE 0 END) AS DOUBLE) / CAST(MAX(qs.n) AS DOUBLE)
        |    AS outlier_share
        |FROM bd JOIN qs USING (event_type)
        |GROUP BY bd.event_type ORDER BY bd.event_type""".stripMargin,

    "q_percentile_grid" ->
      s"""WITH $quantGridCte
         |SELECT * FROM g ORDER BY event_type""".stripMargin,

    "q_qq_grid" ->
      s"""WITH $quantGridCte,
         |l AS (SELECT event_type, 10 AS q, p10 AS v FROM g
         |  UNION ALL SELECT event_type, 25, p25 FROM g
         |  UNION ALL SELECT event_type, 50, p50 FROM g
         |  UNION ALL SELECT event_type, 75, p75 FROM g
         |  UNION ALL SELECT event_type, 90, p90 FROM g),
         |bs AS (SELECT q, v AS v_base FROM l WHERE event_type = 'view')
         |SELECT event_type, CAST(q AS BIGINT) AS q, v, v_base,
         |  v - v_base AS gap
         |FROM l JOIN bs USING (q)
         |ORDER BY event_type, q""".stripMargin,

    "q_life_table" ->
      """WITH mx AS (SELECT MAX(ts) AS m FROM events),
        |fe AS (SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |spans AS (
        |  SELECT e.user_id, f.event_type AS cohort,
        |    MIN(e.ts) AS t0, MAX(e.ts) AS t1
        |  FROM events e JOIN fe f
        |    ON f.user_id = e.user_id AND f.rn = 1
        |  GROUP BY 1, 2),
        |sp AS (SELECT cohort,
        |         CAST(date_diff('day', CAST(t0 AS DATE),
        |           CAST(t1 AS DATE)) AS BIGINT) // 7 AS wk,
        |         CAST(t1 < m - INTERVAL 7 DAY AS BIGINT) AS death
        |       FROM spans CROSS JOIN mx),
        |grid AS (SELECT cohort, wk, CAST(SUM(death) AS BIGINT) AS d,
        |           CAST(SUM(1 - death) AS BIGINT) AS c
        |         FROM sp GROUP BY 1, 2),
        |tot AS (SELECT cohort, CAST(SUM(d + c) AS BIGINT) AS nt
        |        FROM grid GROUP BY 1),
        |lt AS (SELECT cohort, wk, d, c,
        |    nt - COALESCE(CAST(SUM(d + c) OVER (PARTITION BY cohort
        |        ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING) AS BIGINT), 0) AS at_risk
        |  FROM grid JOIN tot USING (cohort))
        |SELECT cohort, wk, at_risk, d, c,
        |  CAST((d * 2000000000) // (at_risk * 2 - c) AS DOUBLE) / 1e9
        |    AS q_w
        |FROM lt ORDER BY cohort, wk""".stripMargin,

    "q_nelson_aalen" ->
      """WITH mx AS (SELECT MAX(ts) AS m FROM events),
        |fe AS (SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |spans AS (
        |  SELECT e.user_id, f.event_type AS cohort,
        |    MIN(e.ts) AS t0, MAX(e.ts) AS t1
        |  FROM events e JOIN fe f
        |    ON f.user_id = e.user_id AND f.rn = 1
        |  GROUP BY 1, 2),
        |sp AS (SELECT cohort,
        |         CAST(date_diff('day', CAST(t0 AS DATE),
        |           CAST(t1 AS DATE)) AS BIGINT) // 7 AS wk,
        |         CAST(t1 < m - INTERVAL 7 DAY AS BIGINT) AS death
        |       FROM spans CROSS JOIN mx),
        |grid AS (SELECT cohort, wk, CAST(SUM(death) AS BIGINT) AS d,
        |           CAST(SUM(1 - death) AS BIGINT) AS c
        |         FROM sp GROUP BY 1, 2),
        |tot AS (SELECT cohort, CAST(SUM(d + c) AS BIGINT) AS nt
        |        FROM grid GROUP BY 1),
        |na AS (SELECT cohort, wk, d,
        |    nt - COALESCE(CAST(SUM(d + c) OVER (PARTITION BY cohort
        |        ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING) AS BIGINT), 0) AS at_risk
        |  FROM grid JOIN tot USING (cohort)),
        |t2 AS (SELECT cohort, wk, at_risk, d,
        |    (d * 1000000000) // at_risk AS term FROM na)
        |SELECT cohort, wk, at_risk, d,
        |  CAST(CAST(SUM(term) OVER (PARTITION BY cohort ORDER BY wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS DOUBLE) / 1e9 AS h
        |FROM t2 ORDER BY cohort, wk""".stripMargin,

    "q_survival_km" ->
      """WITH RECURSIVE mx AS (SELECT MAX(ts) AS m FROM events),
        |fe AS (SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |spans AS (
        |  SELECT e.user_id, f.event_type AS cohort,
        |    MIN(e.ts) AS t0, MAX(e.ts) AS t1
        |  FROM events e JOIN fe f
        |    ON f.user_id = e.user_id AND f.rn = 1
        |  GROUP BY 1, 2),
        |sp AS (SELECT cohort,
        |         CAST(date_diff('day', CAST(t0 AS DATE),
        |           CAST(t1 AS DATE)) AS BIGINT) AS dur,
        |         CAST(t1 < m - INTERVAL 7 DAY AS BIGINT) AS death
        |       FROM spans CROSS JOIN mx),
        |grid AS (SELECT cohort, dur, CAST(SUM(death) AS BIGINT) AS d,
        |           CAST(SUM(1 - death) AS BIGINT) AS c
        |         FROM sp GROUP BY 1, 2),
        |tot AS (SELECT cohort, CAST(SUM(d + c) AS BIGINT) AS n_users,
        |          CAST(SUM(d) AS BIGINT) AS n_deaths
        |        FROM grid GROUP BY 1),
        |idx AS (SELECT cohort, dur, d, c,
        |          row_number() OVER (PARTITION BY cohort ORDER BY dur)
        |            AS rn
        |        FROM grid),
        |rec AS (
        |  SELECT t.cohort, 0 AS rn, CAST(1.0 AS DOUBLE) AS s,
        |    CAST(n_users AS DOUBLE) AS n, CAST(-1 AS BIGINT) AS med
        |  FROM tot t
        |  UNION ALL
        |  SELECT i.cohort, i.rn,
        |    rec.s * (1.0 - CAST(i.d AS DOUBLE) / rec.n),
        |    rec.n - CAST(i.d + i.c AS DOUBLE),
        |    CASE WHEN rec.med >= 0 THEN rec.med
        |         WHEN rec.s * (1.0 - CAST(i.d AS DOUBLE) / rec.n)
        |              <= 0.5 THEN i.dur
        |         ELSE -1 END
        |  FROM rec JOIN idx i
        |    ON i.cohort = rec.cohort AND i.rn = rec.rn + 1),
        |fin AS (SELECT cohort, s, med,
        |          row_number() OVER (PARTITION BY cohort
        |            ORDER BY rn DESC) AS rk
        |        FROM rec)
        |SELECT t.cohort, t.n_users, t.n_deaths, f.s AS s_final,
        |  f.med AS median_dur
        |FROM tot t JOIN fin f ON f.cohort = t.cohort AND f.rk = 1
        |ORDER BY t.cohort""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, y,
        |        COUNT(*) OVER win AS wn, SUM(y) OVER win AS ws
        |      FROM daily
        |      WINDOW win AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t AS (SELECT event_type, day, CAST(y AS DOUBLE) AS yd,
        |        CAST(ws AS DOUBLE) / 7.0 AS trend
        |      FROM w WHERE wn = 7),
        |q AS (SELECT event_type,
        |        CAST(isodow(day) AS BIGINT) AS dow,
        |        CAST(round((yd - trend) * 10000, 0) AS BIGINT) AS devq
        |      FROM t)
        |SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(devq) AS DOUBLE) /
        |    CAST(COUNT(*) * 10000 AS DOUBLE) AS seasonal
        |FROM q GROUP BY 1, 2 ORDER BY event_type, dow""".stripMargin,

    "q_silhouette" ->
      s"""WITH q AS (SELECT vec_id, ${Similarity.qSql} AS qv
         |           FROM embeddings),
         |x AS (SELECT vec_id, generate_subscripts(qv, 1) AS i,
         |        unnest(qv) AS v FROM q),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY 1),
         |dot AS (SELECT a.vec_id, b.vec_id AS cent_id,
         |          SUM(a.v * b.v) AS ab
         |        FROM x a JOIN x b ON a.i = b.i AND b.vec_id < 16
         |        GROUP BY 1, 2),
         |d2 AS (SELECT dot.vec_id, cent_id,
         |         CAST(na.nn + nc.nn - 2 * ab AS BIGINT) AS d2
         |       FROM dot
         |         JOIN n na ON na.vec_id = dot.vec_id
         |         JOIN n nc ON nc.vec_id = cent_id),
         |r AS (SELECT vec_id, cent_id, d2,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY d2, cent_id) AS rn
         |      FROM d2),
         |ab2 AS (SELECT a.vec_id, a.cent_id AS bucket,
         |          a.d2 AS a2, b.d2 AS b2
         |        FROM r a JOIN r b
         |          ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
         |sq AS (SELECT bucket,
         |         CAST(round(CAST(b2 - a2 AS DOUBLE) /
         |           CAST(greatest(a2, b2) AS DOUBLE) * 10000, 0)
         |           AS BIGINT) AS sq
         |       FROM ab2)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(sq) AS DOUBLE) /
         |    CAST(COUNT(*) * 10000 AS DOUBLE) AS mean_silhouette
         |FROM sq GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_median_ci" ->
      """WITH dom AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cm AS (SELECT event_type, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v)
        |      AS BIGINT) AS cum
        |  FROM dom),
        |t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT event_type, n, (n + 1) // 2 AS k_med,
        |    GREATEST(CAST(1 AS BIGINT),
        |      CAST(floor((CAST(n AS DOUBLE)
        |        - 1.959963985 * sqrt(CAST(n AS DOUBLE))) / 2.0)
        |        AS BIGINT)) AS k_lo,
        |    LEAST(n,
        |      CAST(ceil(1.0 + (CAST(n AS DOUBLE)
        |        + 1.959963985 * sqrt(CAST(n AS DOUBLE))) / 2.0)
        |        AS BIGINT)) AS k_hi
        |  FROM t)
        |SELECT event_type, MAX(n) AS n,
        |  CAST(MAX(k_lo) AS BIGINT) AS k_lo,
        |  CAST(MAX(k_hi) AS BIGINT) AS k_hi,
        |  CAST(MIN(CASE WHEN cum >= k_med THEN v END) AS DOUBLE) / 100.0
        |    AS median,
        |  CAST(MIN(CASE WHEN cum >= k_lo THEN v END) AS DOUBLE) / 100.0
        |    AS ci_lo,
        |  CAST(MIN(CASE WHEN cum >= k_hi THEN v END) AS DOUBLE) / 100.0
        |    AS ci_hi
        |FROM cm JOIN b USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}

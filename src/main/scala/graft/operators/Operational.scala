package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operational time-series / inventory analytics (round 7): lag-1
  * autocorrelation, weighted quantiles, interval-union coverage, and
  * greedy stock allocation. All four carry full DuckDB oracles.
  *
  * These are the ops a pipeline-operations team runs over the telemetry
  * of a 100 TB corpus build: is throughput autocorrelated day-to-day
  * (capacity planning), what does the weighted latency median look like
  * (SLA reporting), how much wall-clock did overlapping incident windows
  * actually cover (on-call accounting), and which consumers starve when a
  * fixed resource is allocated greedily (quota design).
  *
  * Shared scale discipline: every window here partitions on a natural key
  * (event_type, returnflag, user, part) — no global single-partition
  * window anywhere — and every accumulation is decimal/int64-exact so the
  * result is independent of Spark's partial-aggregation order (SURVEY.md
  * §2.C determinism preamble).
  */
object Operational extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- economic order quantity (round 15): the Harris/Wilson EOQ
      // per part brand — order size sqrt(2DS/H) and implied replenish
      // cadence from observed demand, with literal ordering/holding
      // costs (S=50, H=2) — the inventory-policy classic next to
      // q_alloc_greedy's allocation and q_croston's intermittent
      // forecast. Demand is an exact int64 unit sum off one
      // lineitem⋈part shuffle; EOQ and orders/period are one ÷/sqrt
      // tree per O(brands) row. ---
      "q_eoq" -> ((s, d) => {
        val li = table(s, d, "lineitem")
          .select(col("l_partkey").as("pk"),
            expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"))
        val p = table(s, d, "part")
          .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
        li.join(p, "pk")
          .groupBy("brand")
          .agg(sum("q").cast("long").as("demand"),
            countDistinct("pk").as("n_parts"))
          .select(col("brand"), col("n_parts"), col("demand"),
            sqrt(lit(2.0) * col("demand").cast("double") * lit(50.0)
              / lit(2.0)).as("eoq"))
          .withColumn("n_orders",
            col("demand").cast("double") / col("eoq"))
          .orderBy("brand")
      }),

      // --- historical VaR + expected shortfall (round 16): the risk
      // card over the day-over-day revenue CHANGE — q_mean_excess
      // reads the upper tail of levels, this reads the LOWER tail of
      // deltas: VaR(5%/1%) is the exact-rank worst-case daily drop,
      // ES the mean of the tail at or beyond it (the coherent
      // measure; VaR alone hides tail shape). Deltas are exact int64
      // dollars off the pooled daily series (the q_theil_u cents-
      // floor device); both cuts are cum·k ≥ n integer order
      // statistics off the delta histogram; each ES is exact sums +
      // ONE division. Negative deltas = drops (sign documented);
      // O(days) grid throughout. ---
      "q_var_es" -> ((s, d) => {
        val dailyV = table(s, d, "events")
          .select(col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("day").agg(sum("vc").as("cents"))
          .select(col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val wd = Window.orderBy("day")
        val hist = dailyV
          .withColumn("pv", lag("v", 1).over(wd))
          .filter(col("pv").isNotNull)
          .groupBy((col("v") - col("pv")).as("dl"))
          .agg(count(lit(1)).as("c"))
        val wc = Window.orderBy("dl")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = hist.agg(sum("c").as("n"))
        val cum = hist.withColumn("cum", sum("c").over(wc))
          .crossJoin(broadcast(tot))
        val cuts2 = cum.groupBy("n")
          .agg(min(when(col("cum") * 20 >= col("n"), col("dl")))
              .as("var05"),
            min(when(col("cum") * 100 >= col("n"), col("dl")))
              .as("var01"))
        hist.crossJoin(broadcast(cuts2))
          .groupBy("n", "var05", "var01")
          .agg(sum(when(col("dl") <= col("var05"), col("c"))
              .otherwise(0L)).as("n05"),
            sum(when(col("dl") <= col("var05"),
              col("c") * col("dl")).otherwise(0L)).as("s05"),
            sum(when(col("dl") <= col("var01"), col("c"))
              .otherwise(0L)).as("n01"),
            sum(when(col("dl") <= col("var01"),
              col("c") * col("dl")).otherwise(0L)).as("s01"))
          .select(col("n").as("n_deltas"), col("var05"),
            (col("s05").cast("double") / col("n05")).as("es05"),
            col("var01"),
            (col("s01").cast("double") / col("n01")).as("es01"))
      }),

      // --- safety stock / reorder point (round 16): the service-level
      // buffer that completes the inventory block — q_eoq sizes the
      // lot, q_newsvendor the one-period level, q_croston the
      // intermittent forecast; safety stock answers "how much buffer
      // absorbs daily demand noise over the L = 7-day lead time at a
      // 95% cycle-service level (z = 1.645)": SS = z·σ_d·√L,
      // ROP = μ_d·L + SS. Daily-demand moments are exact int64
      // (n·Σd² − S² sample-variance device off the daily COUNT
      // aggregate); SS/ROP are one fixed ÷/√ tree per O(types) row;
      // single-day corpora guard to NULL. ---
      "q_safety_stock" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("dem"))
        val m = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum("dem").cast("long").as("s1"),
            sum(col("dem") * col("dem")).cast("long").as("s2"))
        val vard = (col("n_days") * col("s2") - col("s1") * col("s1"))
          .cast("double")
          .divide(col("n_days").cast("double") * (col("n_days") - 1L))
        val ss = lit(1.645) * sqrt(lit(7.0) * vard)
        m.select(col("event_type"), col("n_days"),
            (col("s1").cast("double") / col("n_days")).as("mu_daily"),
            when(col("n_days") > 1, vard).as("var_daily"),
            when(col("n_days") > 1, ss).as("safety_stock"),
            when(col("n_days") > 1,
              col("s1").cast("double") / col("n_days") * 7.0 + ss)
              .as("reorder_point"))
          .orderBy("event_type")
      }),

      // --- newsvendor stocking policy (round 16): per event type, the
      // critical-fractile (cf = 3/4) order-up-to level over the DAILY
      // demand distribution, with the expected-leftover /
      // expected-shortage decomposition at that level — the one-period
      // stochastic-inventory answer that closes the block q_eoq
      // (deterministic lot size) and q_croston (intermittent forecast)
      // open. Q* is an exact integer order statistic off the demand
      // HISTOGRAM (cum·4 ≥ 3n banded cut — O(distinct demands)
      // windows, never a corpus sort); E[leftover] = (Q·F(Q) −
      // Σ_{d≤Q} d·f)/n and E[shortage] = (Σ_{d>Q} d·f − Q·(n−F(Q)))/n
      // are exact int64 off the same cumulative sums, ONE terminal
      // division each. ---
      "q_newsvendor" -> ((s, d) => {
        val hist = table(s, d, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("dem"))
          .groupBy("event_type", "dem").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("dem")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val r = hist
          .withColumn("cum", sum("c").over(wb))
          .withColumn("cumd", sum(col("dem") * col("c")).over(wb))
          .withColumn("n", sum("c").over(wt))
          .withColumn("sumd", sum(col("dem") * col("c")).over(wt))
          .repartition(col("event_type")) // its readers reuse this exchange
        val qs = r.groupBy("event_type")
          .agg(max("n").as("n_days"), max("sumd").as("sum_dem"),
            min(when(col("cum") * 4 >= col("n") * 3, col("dem")))
              .as("q_star"))
        qs.join(
            r.select(col("event_type"), col("dem"), col("cum"),
              col("cumd")),
            Seq("event_type"))
          .filter(col("dem") === col("q_star"))
          .select(col("event_type"), col("n_days"), col("q_star"),
            (col("q_star") * col("cum") - col("cumd")).as("lo_num"),
            ((col("sum_dem") - col("cumd"))
              - col("q_star") * (col("n_days") - col("cum")))
              .as("sh_num"),
            col("cum"))
          .select(col("event_type"), col("n_days"), col("q_star"),
            (col("lo_num").cast("double") / col("n_days"))
              .as("exp_leftover"),
            (col("sh_num").cast("double") / col("n_days"))
              .as("exp_shortage"),
            (col("cum").cast("double") / col("n_days"))
              .as("service_level"))
          .orderBy("event_type")
      }),

      // --- Little's-law audit (round 15): per month, arrival rate λ
      // (orders placed / calendar days), cycle time W (mean
      // order→last-ship days over orders COMPLETING that month) and
      // measured end-of-month WIP, with the L = λ·W prediction beside
      // it — the queueing-theory sanity check every fulfilment
      // dashboard owes its reader. Everything derives from the
      // O(months²) (order-month, completion-month) census: arrivals
      // and completions are its marginals, WIP is the difference of
      // two cumulative window sums over the O(months) axis, and cycle
      // sums are exact int64 day totals. λ, W, L are three terminal
      // divisions; W and L are NULL on zero-completion months (both
      // engines spell the guard). ---
      "q_littles_law" -> ((s, d) => {
        val o = table(s, d, "orders").select(col("o_orderkey").as("ok"),
          col("o_orderdate").cast("date").as("od"))
        val comp = table(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(max(col("l_shipdate").cast("date")).as("cd"))
        val cells = o.join(comp, "ok")
          .select(
            (year(col("od")) * 12 + month(col("od")) - 1).cast("long")
              .as("mo"),
            (year(col("cd")) * 12 + month(col("cd")) - 1).cast("long")
              .as("mc"),
            datediff(col("cd"), col("od")).cast("long").as("cyc"))
          .groupBy("mo", "mc")
          .agg(count(lit(1)).as("n"), sum("cyc").as("scyc"))
        val arr = cells.groupBy(col("mo").as("m"))
          .agg(sum("n").cast("long").as("arrivals"))
        val fin = cells.groupBy(col("mc").as("m"))
          .agg(sum("n").cast("long").as("completions"),
            sum("scyc").cast("long").as("scyc"))
        val axis = arr.join(fin, Seq("m"), "full_outer")
          .select(col("m"),
            coalesce(col("arrivals"), lit(0L)).as("arrivals"),
            coalesce(col("completions"), lit(0L)).as("completions"),
            coalesce(col("scyc"), lit(0L)).as("scyc"))
        val run = Window.orderBy("m")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        axis
          .withColumn("wip_end",
            sum("arrivals").over(run) - sum("completions").over(run))
          .select(col("m"), col("arrivals"), col("completions"),
            col("wip_end"),
            make_date(expr("m div 12"), col("m") % 12 + 1, lit(1))
              .as("month_start"),
            when(col("completions") > 0,
              col("scyc").cast("double") / col("completions"))
              .as("w_days"))
          .withColumn("lambda_day", col("arrivals").cast("double")
            / dayofmonth(last_day(col("month_start"))))
          .withColumn("l_pred", col("lambda_day") * col("w_days"))
          .select(col("month_start"), col("arrivals"),
            col("completions"), col("wip_end"), col("w_days"),
            col("lambda_day"), col("l_pred"))
          .orderBy("month_start")
      }),

      // --- chain-ladder development factors (round 15): the
      // actuarial run-off triangle, spelled on order fulfilment —
      // cohort = order month, development age = ship-vs-order month
      // lag (capped at 6 = tail band), cell value = shipped cents.
      // The age-to-age factor f_d = Σ_cohorts C(c,d+1) / Σ C(c,d) is
      // the volume-weighted all-cohort estimator, taken over exactly
      // the cohorts where BOTH ages exist (the standard truncation —
      // young cohorts can't vote on factors they haven't reached).
      // Cumulative cells come from a window over the O(cohorts × 7)
      // aggregate, never the raw rows; the dev/dev+1 pairing is a
      // self-join of that same tiny relation (AQE broadcasts it); all
      // cells are exact int64 cents until the terminal factor
      // division. The lineitem⋈orders join shuffles on orderkey —
      // co-partitioned at any scale. ---
      "q_chain_ladder" -> ((s, d) => {
        val o = table(s, d, "orders").select(
          col("o_orderkey").as("ok"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("om"),
          date_trunc("month", col("o_orderdate")).cast("date")
            .as("cohort"))
        val li = table(s, d, "lineitem").select(
          col("l_orderkey").as("ok"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("sm"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            .as("epc"))
        val cells = li.join(o, "ok")
          .select(col("cohort"),
            least(col("sm") - col("om"), lit(6L)).as("dev"), col("epc"))
          .filter(col("dev") >= 0)
          .groupBy("cohort", "dev").agg(sum("epc").as("v"))
        val wc = Window.partitionBy("cohort").orderBy("dev")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = cells.withColumn("cumv", sum("v").over(wc))
          .select(col("cohort"), col("dev"), col("cumv"))
        cum.as("a").join(cum.as("b"),
            col("a.cohort") === col("b.cohort")
              && col("b.dev") === col("a.dev") + 1)
          .groupBy(col("a.dev").as("dev"))
          .agg(count(lit(1)).as("n_cohorts"),
            sum(col("a.cumv")).cast("long").as("c_d"),
            sum(col("b.cumv")).cast("long").as("c_d1"))
          .select(col("dev"), col("n_cohorts"), col("c_d"), col("c_d1"),
            (col("c_d1").cast("double") / col("c_d").cast("double"))
              .as("factor"))
          .orderBy("dev")
      }),

      // --- open-order aging report (round 14): non-finished orders
      // bucketed by age against the corpus's as-of date (its max
      // order date — self-anchored so the report is deterministic on
      // any snapshot), per priority — the working-capital/backlog
      // table every ops review opens with. One scalar-aggregate
      // broadcast for the anchor, one conditional-aggregate pass;
      // ages are exact integer day differences, buckets are integer
      // comparisons, value sums exact decimals. O(priorities) out. ---
      "q_order_aging" -> ((s, d) => {
        val ord = table(s, d, "orders")
        val anchor = ord.agg(max(col("o_orderdate")).as("as_of"))
        val open = ord.filter(col("o_orderstatus") =!= "F")
          .crossJoin(broadcast(anchor))
          .select(col("o_orderpriority").as("prio"),
            col("o_totalprice"),
            datediff(col("as_of"), col("o_orderdate")).cast("long")
              .as("age"))
        def bucket(lo: Long, hi: Long) =
          sum((col("age") >= lo && col("age") <= hi).cast("long"))
        open.groupBy("prio")
          .agg(count(lit(1)).as("n_open"),
            bucket(0L, 30L).as("d0_30"),
            bucket(31L, 90L).as("d31_90"),
            bucket(91L, 365L).as("d91_365"),
            sum((col("age") > 365L).cast("long")).as("d365_plus"),
            sumd(col("o_totalprice")).as("open_value"),
            sumd(when(col("age") > 365L, col("o_totalprice"))
              .otherwise(lit(0.0))).as("stale_value"))
          .orderBy("prio")
      }),

      // --- order→ship lag percentiles per priority (round 14): the
      // fulfilment-SLA readout (p50/p90/p99 days from order to each
      // line's ship). The quantile runs over integer DAY BANDS
      // (bounded ≤ ~0.4k values at any scale — the percentile_grid
      // discipline, no corpus-sized window): one co-located bucketed
      // join, one (prio, lag) aggregate, a cumulative window over the
      // bands, and integer threshold cuts (cum·k ≥ n·q — no FP
      // boundary). avg is one division off exact int64 sums. ---
      "q_ship_lag" -> ((s, d) => {
        val li = s.table(Advanced.bucketize(s, d, "lineitem",
            "l_orderkey"))
          .select(col("l_orderkey"), col("l_shipdate"))
        val ord = s.table(Advanced.bucketize(s, d, "orders",
            "o_orderkey"))
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderdate"), col("o_orderpriority"))
        val lags = li.join(ord, "l_orderkey")
          .select(col("o_orderpriority").as("prio"),
            datediff(col("l_shipdate"), col("o_orderdate"))
              .cast("long").as("lag"))
        val bands = lags.groupBy("prio", "lag")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("prio").orderBy("lag")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bands.withColumn("cum", sum("c").over(wc))
        val tot = lags.groupBy("prio")
          .agg(count(lit(1)).as("n"), sum("lag").as("sl"))
        cum.join(broadcast(tot), "prio")
          .groupBy("prio")
          .agg(max("n").as("n_lines"),
            min(when(col("cum") * 2 >= col("n"), col("lag")))
              .as("p50_days"),
            min(when(col("cum") * 10 >= col("n") * 9, col("lag")))
              .as("p90_days"),
            min(when(col("cum") * 100 >= col("n") * 99, col("lag")))
              .as("p99_days"),
            max(col("sl").cast("double") / col("n")).as("avg_days"))
          .orderBy("prio")
      }),

      // --- TOPSIS multi-criteria supplier ranking (round 14): the
      // standard MCDM closeness-to-ideal score over three exact-int64
      // criteria (revenue cents ↑, distinct parts ↑, integer
      // micro-discount ↓), in the linear max-normalization variant —
      // v = x/max(x) needs only division, so no sum-of-squares can
      // overflow at any scale and every step stays a fixed per-row
      // expression tree over IEEE correctly-rounded ops (÷, ×, sqrt —
      // never pow/libm). Ideal/anti-ideal are broadcast 1-row
      // min/max aggregates; distances are 3-term fixed-order sums (no
      // data-ordered FP accumulation); top-20 is a TakeOrdered. At
      // 100 TB: one supplier-keyed aggregate over the fact table,
      // then O(|suppliers|) map-side math. ---
      "q_topsis_rank" -> ((s, d) => {
        val crit = table(s, d, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"),
            countDistinct(col("l_partkey")).as("nparts"),
            (sum(dec(col("l_discount"))) * 10000).cast("long")
              .as("dsum"),
            count(lit(1)).as("nl"))
          .withColumn("md", expr("dsum * 100 div nl"))
        val mx = crit.agg(max("cents").as("mc"), max("nparts").as("mp"),
          max("md").as("mm"))
        val v = crit.crossJoin(broadcast(mx))
          .select(col("l_suppkey"), col("cents"), col("nparts"),
            col("md"),
            (col("cents").cast("double") / col("mc")).as("v1"),
            (col("nparts").cast("double") / col("mp")).as("v2"),
            (col("md").cast("double") / col("mm")).as("v3"))
        val mn = v.agg(min("v1").as("n1"), min("v2").as("n2"),
          min("v3").as("n3"))
        v.crossJoin(broadcast(mn))
          .select(col("l_suppkey"), col("cents"), col("nparts"),
            col("md"),
            sqrt((lit(1.0) - col("v1")) * (lit(1.0) - col("v1"))
              + (lit(1.0) - col("v2")) * (lit(1.0) - col("v2"))
              + (col("v3") - col("n3")) * (col("v3") - col("n3")))
              .as("d_plus"),
            sqrt((col("v1") - col("n1")) * (col("v1") - col("n1"))
              + (col("v2") - col("n2")) * (col("v2") - col("n2"))
              + (lit(1.0) - col("v3")) * (lit(1.0) - col("v3")))
              .as("d_minus"))
          .withColumn("closeness",
            col("d_minus") / (col("d_plus") + col("d_minus")))
          .select(col("l_suppkey"), col("cents"), col("nparts"),
            col("md"), col("closeness"))
          .orderBy(col("closeness").desc, col("l_suppkey"))
          .limit(20)
      }),

      // --- lag-1 autocorrelation of the daily value total, per event
      // type — the capacity-planning readout (is today's load predictive
      // of tomorrow's?). Events collapse FIRST to one exact decimal row
      // per (type, day) — the only shuffle that touches raw rows, and it
      // is a partial-aggregated groupBy, so the exchange moves day
      // totals, not events. The (v_t, v_{t-1}) pairing is a lag window
      // over that tiny per-type series, and the Pearson statistic comes
      // from exact decimal sums (n·Σxy − Σx·Σy over products of
      // DECIMAL(18,4) day totals — precision 37/scale 8, exact) with the
      // one FP division performed once per type on the final row, the
      // q_corr_matrix discipline. ---
      "q_autocorr" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(D).as("v"))
        val wl = Window.partitionBy("event_type").orderBy("day")
        val pairs = daily
          .withColumn("vp", lag("v", 1).over(wl))
          .filter(col("vp").isNotNull)
        val g = pairs.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum("v").as("sx"), sum("vp").as("sy"),
          sum(col("v") * col("vp")).as("sxy"),
          sum(col("v") * col("v")).as("sxx"),
          sum(col("vp") * col("vp")).as("syy"))
        def Dd(name: String) = col(name).cast("double")
        g.select(col("event_type"), col("n"),
            ((Dd("n") * Dd("sxy") - Dd("sx") * Dd("sy")) /
              (sqrt(Dd("n") * Dd("sxx") - Dd("sx") * Dd("sx")) *
                sqrt(Dd("n") * Dd("syy") - Dd("sy") * Dd("sy"))))
              .as("lag1_corr"))
          .orderBy("event_type")
      }),

      // --- multi-lag autocorrelation function (ACF at lags 1/2/3/7):
      // the full seasonality diagnostic next to q_autocorr's lag-1
      // readout (lag 7 exposes the weekly cycle; 1-3 the short memory).
      // Same discipline: events collapse FIRST to the per-(type, day)
      // exact-decimal series, each lag pairs within the tiny per-type
      // window, and every Pearson moment accumulates in exact decimal
      // with ONE terminal FP tree per (type, lag). The 4-way lag
      // fan-out unions over the O(types × days) series relation, never
      // over events. ---
      "q_acf_multi" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(D).as("v"))
        val wl = Window.partitionBy("event_type").orderBy("day")
        val pairs = Seq(1, 2, 3, 7).map { k =>
          daily
            .withColumn("vp", lag("v", k).over(wl))
            .withColumn("lag", lit(k.toLong))
            .filter(col("vp").isNotNull)
        }.reduce(_ unionByName _)
        val g = pairs.groupBy("event_type", "lag").agg(
          count(lit(1)).as("n"),
          sum("v").as("sx"), sum("vp").as("sy"),
          sum(col("v") * col("vp")).as("sxy"),
          sum(col("v") * col("v")).as("sxx"),
          sum(col("vp") * col("vp")).as("syy"))
        def Dd(name: String) = col(name).cast("double")
        g.select(col("event_type"), col("lag"), col("n"),
            ((Dd("n") * Dd("sxy") - Dd("sx") * Dd("sy")) /
              (sqrt(Dd("n") * Dd("sxx") - Dd("sx") * Dd("sx")) *
                sqrt(Dd("n") * Dd("syy") - Dd("sy") * Dd("sy"))))
              .as("acf"))
          .orderBy("event_type", "lag")
      }),

      // --- weighted median / p90: quantity-weighted price quantiles per
      // returnflag (the SLA-report shape: each row carries a weight, the
      // quantile is over the weight mass, not the row count). One
      // price-ordered window per flag accumulates exact decimal weight;
      // the quantile row is the first whose running mass clears the
      // threshold, found by a conditional MIN — no second window, no FP
      // threshold (cum·2 ≥ tot and cum·10 ≥ tot·9 are exact decimal
      // comparisons). The window partitions by flag (3 partitions of
      // ~200k rows at sf0.1); at fleet scale the same statement runs
      // per-key after a date filter, or swaps to the mergeable sketch of
      // q_quantile_sketch — the query shape is the contract. ---
      "q_weighted_median" -> ((s, d) => {
        val li = table(s, d, "lineitem").select(
          col("l_returnflag").as("flag"),
          dec(col("l_quantity")).as("w"),
          dec(col("l_extendedprice")).as("p"),
          col("l_orderkey"), col("l_linenumber"))
        val wc = Window.partitionBy("flag")
          .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("flag")
        li.withColumn("cum", sum("w").over(wc))
          .withColumn("tot", sum("w").over(wt))
          .groupBy("flag")
          .agg(
            min(when(col("cum") * 2 >= col("tot"), col("p")))
              .cast("double").as("wp50"),
            min(when(col("cum") * 10 >= col("tot") * 9, col("p")))
              .cast("double").as("wp90"),
            max(col("tot")).cast("double").as("total_weight"))
          .orderBy("flag")
      }),

      // --- interval-union coverage: each event opens a [ts, ts+value s]
      // window; per user, how much wall-clock do the windows actually
      // cover once overlaps merge, and how many disjoint islands are
      // there? The classic sweep: a per-user start-ordered window marks a
      // row that starts past every prior end as a new island (running
      // MAX(end) over strictly-preceding rows), islands get ids by
      // cumulative flag sum, and coverage is Σ per-island (max end − min
      // start). Everything is int64 microseconds — exact at any merge
      // order. Three window passes ride ONE user-hash exchange (same
      // partitioning key, Spark reuses the shuffle); the island reduce is
      // an ordinary groupBy. ---
      "q_interval_union" -> ((s, d) => {
        val e = table(s, d, "events").select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            round(col("value"), 0).cast("long") * 1000000L).as("en"))
        val wp = Window.partitionBy("user_id").orderBy("st", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wc = Window.partitionBy("user_id").orderBy("st", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("pmax", max("en").over(wp))
          .withColumn("newi",
            (col("pmax").isNull || col("st") > col("pmax")).cast("long"))
          .withColumn("island", sum("newi").over(wc))
          .groupBy("user_id", "island")
          .agg(min("st").as("is0"), max("en").as("is1"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("is1") - col("is0")).cast("long").as("covered_us"))
          .orderBy("user_id")
      }),

      // --- rolling-origin forecast backtest: at every day t, forecast
      // y_t from the trailing 7-day mean AND from yesterday's value
      // (the naive baseline every forecast must beat), then score both
      // by mean absolute error — the evaluation harness behind
      // q_holt_linear/q_ewma_smooth. Both forecasts are windows over
      // the SAME per-type day-ordered exchange (trailing decimal sum +
      // lag — one WindowExec); each day's two absolute errors are
      // grid-quantized to 1e-4 BEFORE the mean so the aggregate is an
      // exact integer sum with one terminal division per metric (raw
      // double errors summed in group order would hash-diverge). ---
      "q_rolling_backtest" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(D).as("y"))
        val wt = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-7, -1)
        val wl = Window.partitionBy("event_type").orderBy("day")
        val scoredDays = daily
          .withColumn("wn", count(lit(1)).over(wt))
          .withColumn("ws", sum("y").over(wt))
          .withColumn("yprev", lag("y", 1).over(wl))
          .filter(col("wn") === 7)
          .select(col("event_type"),
            round(abs(col("y").cast("double") -
              col("ws").cast("double") / lit(7.0)) * 10000, 0)
              .cast("long").as("e_ma7"),
            round(abs(col("y").cast("double") -
              col("yprev").cast("double")) * 10000, 0)
              .cast("long").as("e_naive"))
        scoredDays.groupBy("event_type")
          .agg(count(lit(1)).as("n_evals"),
            (sum("e_ma7").cast("double") /
              (count(lit(1)) * 10000).cast("double")).as("mae_ma7"),
            (sum("e_naive").cast("double") /
              (count(lit(1)) * 10000).cast("double")).as("mae_naive"))
          .orderBy("event_type")
      }),

      // --- Benford first-digit audit: the data-quality / fraud screen
      // over order totals — observed first-significant-digit shares vs
      // Benford's law. The digit comes from the DECIMAL STRING head
      // (first char of the floored total), never floor(log10) — zero
      // libm, bit-identical everywhere; expected shares are the nine
      // log10(1+1/d) constants as double literals. One 9-group
      // map-side aggregate; observed share is one exact-int division
      // per digit. ---
      "q_benford_audit" -> ((s, d) => {
        val o = table(s, d, "orders")
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
        val tot = o.agg(count(lit(1)).as("n_total"))
        val exp = Seq(0.30103, 0.17609, 0.12494, 0.09691, 0.07918,
          0.06695, 0.05799, 0.05115, 0.04576)
        val expCol = element_at(
          array(exp.map(lit): _*), col("digit").cast("int"))
        o.groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("n_total").cast("double"))
              .as("obs_share"),
            expCol.as("exp_share"))
          .orderBy("digit")
      }),

      // --- greedy stock allocation: each part holds size·50 units;
      // shipdate-ordered lineitems drain the stock, each line getting
      // min(requested, remaining). The running drain is one exact
      // decimal cumsum window per part (strictly-preceding frame), the
      // per-line award is pure arithmetic (greatest/least over
      // decimals), and the readout rolls up to brand: full / partial /
      // starved line counts and the awarded total. The stock join
      // carries NO broadcast hint: the window key (partkey) IS the
      // join key, so lineitem is already hash-partitioned on it when
      // the join runs — AQE broadcasts the part dim while it fits and
      // degrades to a co-partitioned shuffle join (no extra lineitem
      // exchange) when a fleet-scale part catalog doesn't. The same
      // statement is the backfill-quota and rate-limit-audit shape at
      // scale. ---
      "q_alloc_greedy" -> ((s, d) => {
        val stock = table(s, d, "part").select(
          col("p_partkey"), col("p_brand"),
          dec(col("p_size") * 50).as("stock"))
        val li = table(s, d, "lineitem").select(
          col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), dec(col("l_quantity")).as("qty"))
        val wp = Window.partitionBy("l_partkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, -1)
        li.withColumn("drained",
            coalesce(sum("qty").over(wp), lit(0).cast(D)))
          .join(stock, col("l_partkey") === col("p_partkey"))
          .withColumn("alloc",
            greatest(lit(0).cast(D),
              least(col("qty"), col("stock") - col("drained"))))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_lines"),
            sum((col("alloc") === col("qty")).cast("long")).as("n_full"),
            sum((col("alloc") > 0 && col("alloc") < col("qty"))
              .cast("long")).as("n_partial"),
            sum((col("alloc") === 0).cast("long")).as("n_starved"),
            sum("alloc").cast("double").as("total_alloc"))
          .orderBy("p_brand")
      }))

  override def oracle: Map[String, String] = Map(

    "q_var_es" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1)),
        |dl0 AS (SELECT v - lag(v, 1) OVER (ORDER BY day) AS dl
        |  FROM daily),
        |h AS (SELECT dl, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM dl0 WHERE dl IS NOT NULL GROUP BY dl),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
        |cw AS (SELECT dl, n,
        |    CAST(SUM(c) OVER (ORDER BY dl ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM h CROSS JOIN t),
        |cuts AS (SELECT n,
        |    MIN(CASE WHEN cum * 20 >= n THEN dl END) AS var05,
        |    MIN(CASE WHEN cum * 100 >= n THEN dl END) AS var01
        |  FROM cw GROUP BY n),
        |a AS (SELECT n, var05, var01,
        |    CAST(SUM(CASE WHEN dl <= var05 THEN c ELSE 0 END)
        |      AS BIGINT) AS n05,
        |    CAST(SUM(CASE WHEN dl <= var05 THEN c * dl ELSE 0 END)
        |      AS BIGINT) AS s05,
        |    CAST(SUM(CASE WHEN dl <= var01 THEN c ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN dl <= var01 THEN c * dl ELSE 0 END)
        |      AS BIGINT) AS s01
        |  FROM h CROSS JOIN cuts GROUP BY 1, 2, 3)
        |SELECT n AS n_deltas, var05,
        |  CAST(s05 AS DOUBLE) / n05 AS es05,
        |  var01,
        |  CAST(s01 AS DOUBLE) / n01 AS es01
        |FROM a""".stripMargin,

    "q_safety_stock" ->
      """WITH dd AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS dem
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dem) AS BIGINT) AS s1,
        |    CAST(SUM(dem * dem) AS BIGINT) AS s2
        |  FROM dd GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CAST(s1 AS DOUBLE) / n_days AS mu_daily,
        |  CASE WHEN n_days > 1 THEN
        |    CAST(n_days * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(n_days AS DOUBLE) * (n_days - 1)) END
        |    AS var_daily,
        |  CASE WHEN n_days > 1 THEN
        |    1.645 * sqrt(7.0 * (CAST(n_days * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(n_days AS DOUBLE) * (n_days - 1)))) END
        |    AS safety_stock,
        |  CASE WHEN n_days > 1 THEN
        |    CAST(s1 AS DOUBLE) / n_days * 7.0
        |      + 1.645 * sqrt(7.0
        |        * (CAST(n_days * s2 - s1 * s1 AS DOUBLE)
        |          / (CAST(n_days AS DOUBLE) * (n_days - 1)))) END
        |    AS reorder_point
        |FROM m ORDER BY event_type""".stripMargin,

    "q_newsvendor" ->
      """WITH dd AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS dem
        |  FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, dem, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM dd GROUP BY 1, 2),
        |r AS (SELECT event_type, dem,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dem
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(dem * c) OVER (PARTITION BY event_type
        |      ORDER BY dem ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cumd,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(dem * c) OVER (PARTITION BY event_type)
        |      AS BIGINT) AS sumd
        |  FROM h),
        |qs AS (SELECT event_type, MAX(n) AS n_days,
        |    MAX(sumd) AS sum_dem,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN dem END) AS q_star
        |  FROM r GROUP BY event_type)
        |SELECT qs.event_type, n_days, q_star,
        |  CAST(q_star * cum - cumd AS DOUBLE) / n_days AS exp_leftover,
        |  CAST((sum_dem - cumd) - q_star * (n_days - cum) AS DOUBLE)
        |    / n_days AS exp_shortage,
        |  CAST(cum AS DOUBLE) / n_days AS service_level
        |FROM qs JOIN r ON qs.event_type = r.event_type
        |  AND r.dem = qs.q_star
        |ORDER BY qs.event_type""".stripMargin,

    "q_eoq" ->
      """WITH li AS (SELECT l_partkey AS pk,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q FROM lineitem),
        |p AS (SELECT p_partkey AS pk, p_brand AS brand FROM part),
        |g AS (SELECT brand, CAST(COUNT(DISTINCT pk) AS BIGINT)
        |      AS n_parts,
        |    CAST(SUM(q) AS BIGINT) AS demand
        |  FROM li JOIN p USING (pk) GROUP BY 1)
        |SELECT brand, n_parts, demand,
        |  sqrt(2.0 * CAST(demand AS DOUBLE) * 50.0 / 2.0) AS eoq,
        |  CAST(demand AS DOUBLE)
        |    / sqrt(2.0 * CAST(demand AS DOUBLE) * 50.0 / 2.0)
        |    AS n_orders
        |FROM g ORDER BY brand""".stripMargin,

    "q_littles_law" ->
      """WITH o AS (SELECT o_orderkey AS ok,
        |    CAST(o_orderdate AS DATE) AS od FROM orders),
        |comp AS (SELECT l_orderkey AS ok,
        |    MAX(CAST(l_shipdate AS DATE)) AS cd
        |  FROM lineitem GROUP BY 1),
        |r0 AS (SELECT
        |    CAST(year(od) * 12 + month(od) - 1 AS BIGINT) AS mo,
        |    CAST(year(cd) * 12 + month(cd) - 1 AS BIGINT) AS mc,
        |    CAST(date_diff('day', od, cd) AS BIGINT) AS cyc
        |  FROM o JOIN comp USING (ok)),
        |cells AS (SELECT mo, mc, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cyc) AS BIGINT) AS scyc
        |  FROM r0 GROUP BY 1, 2),
        |arr AS (SELECT mo AS m, CAST(SUM(n) AS BIGINT) AS arrivals
        |  FROM cells GROUP BY 1),
        |fin AS (SELECT mc AS m,
        |    CAST(SUM(n) AS BIGINT) AS completions,
        |    CAST(SUM(scyc) AS BIGINT) AS scyc
        |  FROM cells GROUP BY 1),
        |ax AS (SELECT COALESCE(a.m, f.m) AS m,
        |    COALESCE(a.arrivals, 0) AS arrivals,
        |    COALESCE(f.completions, 0) AS completions,
        |    COALESCE(f.scyc, 0) AS scyc
        |  FROM arr a FULL OUTER JOIN fin f ON a.m = f.m),
        |w AS (SELECT m, arrivals, completions,
        |    CAST(SUM(arrivals) OVER (ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT)
        |    - CAST(SUM(completions) OVER (ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS wip_end,
        |    make_date(CAST(m // 12 AS INTEGER),
        |      CAST(m % 12 + 1 AS INTEGER), 1) AS month_start,
        |    CASE WHEN completions > 0
        |      THEN CAST(scyc AS DOUBLE) / completions END AS w_days
        |  FROM ax)
        |SELECT month_start, arrivals, completions, wip_end, w_days,
        |  CAST(arrivals AS DOUBLE)
        |    / date_part('day', last_day(month_start)) AS lambda_day,
        |  (CAST(arrivals AS DOUBLE)
        |    / date_part('day', last_day(month_start))) * w_days
        |    AS l_pred
        |FROM w ORDER BY month_start""".stripMargin,

    "q_chain_ladder" ->
      """WITH o AS (SELECT o_orderkey AS ok,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |      AS om,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS cohort
        |  FROM orders),
        |li AS (SELECT l_orderkey AS ok,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
        |      AS sm,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc
        |  FROM lineitem),
        |cells AS (SELECT cohort, LEAST(sm - om, 6) AS dev,
        |    CAST(SUM(epc) AS BIGINT) AS v
        |  FROM li JOIN o USING (ok) WHERE sm - om >= 0
        |  GROUP BY 1, 2),
        |cum AS (SELECT cohort, dev, CAST(SUM(v) OVER (
        |      PARTITION BY cohort ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cumv FROM cells)
        |SELECT a.dev AS dev, CAST(COUNT(*) AS BIGINT) AS n_cohorts,
        |  CAST(SUM(a.cumv) AS BIGINT) AS c_d,
        |  CAST(SUM(b.cumv) AS BIGINT) AS c_d1,
        |  CAST(SUM(b.cumv) AS DOUBLE) / CAST(SUM(a.cumv) AS DOUBLE)
        |    AS factor
        |FROM cum a JOIN cum b
        |  ON a.cohort = b.cohort AND b.dev = a.dev + 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_order_aging" ->
      s"""WITH a AS (SELECT MAX(o_orderdate) AS as_of FROM orders),
         |o AS (SELECT o_orderpriority AS prio, o_totalprice,
         |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(as_of AS DATE)) AS BIGINT) AS age
         |  FROM orders CROSS JOIN a WHERE o_orderstatus <> 'F')
         |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_open,
         |  CAST(SUM(CASE WHEN age BETWEEN 0 AND 30 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d0_30,
         |  CAST(SUM(CASE WHEN age BETWEEN 31 AND 90 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d31_90,
         |  CAST(SUM(CASE WHEN age BETWEEN 91 AND 365 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d91_365,
         |  CAST(SUM(CASE WHEN age > 365 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS d365_plus,
         |  ${graft.Det.S("o_totalprice")} AS open_value,
         |  ${graft.Det.S(
            "CASE WHEN age > 365 THEN o_totalprice ELSE 0.0 END")}
         |    AS stale_value
         |FROM o GROUP BY prio ORDER BY prio""".stripMargin,

    "q_ship_lag" ->
      """WITH lg AS (SELECT o_orderpriority AS prio,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |b AS (SELECT prio, lag, COUNT(*) AS c FROM lg GROUP BY 1, 2),
        |cm AS (SELECT prio, lag,
        |    CAST(SUM(c) OVER (PARTITION BY prio ORDER BY lag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM b),
        |t AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lag) AS BIGINT) AS sl FROM lg GROUP BY 1)
        |SELECT prio, MAX(n) AS n_lines,
        |  MIN(CASE WHEN cum * 2 >= n THEN lag END) AS p50_days,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN lag END) AS p90_days,
        |  MIN(CASE WHEN cum * 100 >= n * 99 THEN lag END) AS p99_days,
        |  MAX(CAST(sl AS DOUBLE) / n) AS avg_days
        |FROM cm JOIN t USING (prio)
        |GROUP BY prio ORDER BY prio""".stripMargin,

    "q_topsis_rank" ->
      """WITH crit AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 100
        |      AS BIGINT) AS cents,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nparts,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) * 10000
        |      AS BIGINT) AS dsum,
        |    CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM lineitem GROUP BY 1),
        |c2 AS (SELECT l_suppkey, cents, nparts,
        |    CAST(dsum * 100 // nl AS BIGINT) AS md FROM crit),
        |mx AS (SELECT MAX(cents) AS mc, MAX(nparts) AS mp,
        |    MAX(md) AS mm FROM c2),
        |v AS (SELECT l_suppkey, cents, nparts, md,
        |    CAST(cents AS DOUBLE) / mc AS v1,
        |    CAST(nparts AS DOUBLE) / mp AS v2,
        |    CAST(md AS DOUBLE) / mm AS v3
        |  FROM c2 CROSS JOIN mx),
        |mn AS (SELECT MIN(v1) AS n1, MIN(v2) AS n2, MIN(v3) AS n3
        |  FROM v),
        |sc AS (SELECT l_suppkey, cents, nparts, md,
        |    sqrt((1.0 - v1) * (1.0 - v1) + (1.0 - v2) * (1.0 - v2)
        |      + (v3 - n3) * (v3 - n3)) AS d_plus,
        |    sqrt((v1 - n1) * (v1 - n1) + (v2 - n2) * (v2 - n2)
        |      + (1.0 - v3) * (1.0 - v3)) AS d_minus
        |  FROM v CROSS JOIN mn)
        |SELECT l_suppkey, cents, nparts, md,
        |  d_minus / (d_plus + d_minus) AS closeness
        |FROM sc ORDER BY closeness DESC, l_suppkey LIMIT 20"""
        .stripMargin,

    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, v,
        |        lag(v, 1) OVER (PARTITION BY event_type ORDER BY day)
        |          AS vp
        |      FROM daily),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(v) AS sx, SUM(vp) AS sy,
        |        SUM(CAST(v AS DECIMAL(19,4)) * vp) AS sxy,
        |        SUM(CAST(v AS DECIMAL(19,4)) * v) AS sxx,
        |        SUM(CAST(vp AS DECIMAL(19,4)) * vp) AS syy
        |      FROM p WHERE vp IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS lag1_corr
        |FROM g ORDER BY event_type""".stripMargin,

    "q_acf_multi" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, 1 AS lag, v, lag(v, 1)
        |        OVER (PARTITION BY event_type ORDER BY day) AS vp
        |      FROM daily
        |      UNION ALL
        |      SELECT event_type, 2, v, lag(v, 2)
        |        OVER (PARTITION BY event_type ORDER BY day) FROM daily
        |      UNION ALL
        |      SELECT event_type, 3, v, lag(v, 3)
        |        OVER (PARTITION BY event_type ORDER BY day) FROM daily
        |      UNION ALL
        |      SELECT event_type, 7, v, lag(v, 7)
        |        OVER (PARTITION BY event_type ORDER BY day) FROM daily),
        |g AS (SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(v) AS sx, SUM(vp) AS sy,
        |        SUM(CAST(v AS DECIMAL(19,4)) * vp) AS sxy,
        |        SUM(CAST(v AS DECIMAL(19,4)) * v) AS sxx,
        |        SUM(CAST(vp AS DECIMAL(19,4)) * vp) AS syy
        |      FROM p WHERE vp IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, lag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS acf
        |FROM g ORDER BY event_type, lag""".stripMargin,

    "q_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(l_quantity AS DECIMAL(18,4)) AS w,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) AS p,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (SELECT flag, p,
        |        SUM(w) OVER (PARTITION BY flag
        |          ORDER BY p, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum,
        |        SUM(w) OVER (PARTITION BY flag) AS tot
        |      FROM li)
        |SELECT flag,
        |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN p END) AS DOUBLE)
        |    AS wp50,
        |  CAST(MIN(CASE WHEN cum * 10 >= tot * 9 THEN p END) AS DOUBLE)
        |    AS wp90,
        |  CAST(MAX(tot) AS DOUBLE) AS total_weight
        |FROM c GROUP BY flag ORDER BY flag""".stripMargin,

    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts)
        |           + CAST(round(value, 0) AS BIGINT) * 1000000 AS en
        |  FROM events),
        |m AS (SELECT user_id, st, en, event_id,
        |        MAX(en) OVER (PARTITION BY user_id
        |          ORDER BY st, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS pmax
        |      FROM e),
        |f AS (SELECT user_id, st, en, event_id,
        |        CAST(CASE WHEN pmax IS NULL OR st > pmax
        |             THEN 1 ELSE 0 END AS BIGINT) AS newi
        |      FROM m),
        |i AS (SELECT user_id, st, en,
        |        SUM(newi) OVER (PARTITION BY user_id
        |          ORDER BY st, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS island
        |      FROM f),
        |isl AS (SELECT user_id, island,
        |          MIN(st) AS is0, MAX(en) AS is1
        |        FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(is1 - is0) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_rolling_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, y,
        |        COUNT(*) OVER wt AS wn, SUM(y) OVER wt AS ws,
        |        lag(y, 1) OVER (PARTITION BY event_type ORDER BY day)
        |          AS yprev
        |      FROM daily
        |      WINDOW wt AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |e AS (SELECT event_type,
        |        CAST(round(abs(CAST(y AS DOUBLE)
        |          - CAST(ws AS DOUBLE) / 7.0) * 10000, 0) AS BIGINT)
        |          AS e_ma7,
        |        CAST(round(abs(CAST(y AS DOUBLE)
        |          - CAST(yprev AS DOUBLE)) * 10000, 0) AS BIGINT)
        |          AS e_naive
        |      FROM w WHERE wn = 7)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_evals,
        |  CAST(SUM(e_ma7) AS DOUBLE) /
        |    CAST(COUNT(*) * 10000 AS DOUBLE) AS mae_ma7,
        |  CAST(SUM(e_naive) AS DOUBLE) /
        |    CAST(COUNT(*) * 10000 AS DOUBLE) AS mae_naive
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_benford_audit" ->
      """WITH o AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |             AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |           FROM orders),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM o),
        |exp AS (SELECT * FROM (VALUES
        |          (1, 0.30103), (2, 0.17609), (3, 0.12494),
        |          (4, 0.09691), (5, 0.07918), (6, 0.06695),
        |          (7, 0.05799), (8, 0.05115), (9, 0.04576))
        |        AS v(d, share))
        |SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE)
        |    AS obs_share,
        |  CAST(share AS DOUBLE) AS exp_share
        |FROM o CROSS JOIN t JOIN exp ON exp.d = o.digit
        |GROUP BY digit, n_total, share
        |ORDER BY digit""".stripMargin,

    "q_alloc_greedy" ->
      """WITH stock AS (
        |  SELECT p_partkey, p_brand,
        |         CAST(p_size * 50 AS DECIMAL(18,4)) AS stock
        |  FROM part),
        |li AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
        |         CAST(l_quantity AS DECIMAL(18,4)) AS qty
        |  FROM lineitem),
        |c AS (SELECT l_partkey, qty,
        |        COALESCE(SUM(qty) OVER (PARTITION BY l_partkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          CAST(0 AS DECIMAL(18,4))) AS drained
        |      FROM li),
        |a AS (SELECT p_brand, qty,
        |        greatest(CAST(0 AS DECIMAL(18,4)),
        |          least(qty, stock - drained)) AS alloc
        |      FROM c JOIN stock ON l_partkey = p_partkey)
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN alloc = qty THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_full,
        |  CAST(SUM(CASE WHEN alloc > 0 AND alloc < qty THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_partial,
        |  CAST(SUM(CASE WHEN alloc = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_starved,
        |  CAST(SUM(alloc) AS DOUBLE) AS total_alloc
        |FROM a GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}

package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stratified design & robustness (round 8, batch 15): Neyman optimal
  * sample allocation, Mantel-Haenszel pooled odds ratio, leave-one-
  * source-out top-k stability, price elasticity, and ABC revenue
  * classification. All five carry full DuckDB oracles. Exact
  * int64/decimal moments with terminal fixed trees; the only
  * cross-stratum double sums (Neyman weights, MH terms — O(strata)
  * each) go through DECIMAL(18,4).
  */
object Stratified extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- fixed-effect meta-analysis (round 15): pool the per-source
      // "English docs are longer" effect (mean n_chars, en vs rest)
      // across sources with harmonic-n weights, plus Cochran's Q
      // heterogeneity and I² — the multi-site readout for any metric
      // measured per shard/source. Determinism device: per-source
      // effect d and weight w quantize to integers BEFORE pooling
      // (w100 = (100·nx·ny) div (nx+ny) is exact; d100 = round(100·d)
      // rounds one identical IEEE double), the pooled center rounds
      // once more (round, never div — swd can be negative and Spark
      // div truncates where DuckDB // floors), and Q's Σw(d−d̄)² is
      // then exact int64 (long→double is a single correctly-rounded
      // conversion; the int128/decimal casts are the ones the two
      // engines disagree on). O(sources) out of two aggregates. ---
      "q_meta_effect" -> ((s, d) => {
        val per = table(s, d, "documents")
          .select(col("source"),
            (col("lang") === "en").cast("long").as("en"),
            col("n_chars"))
          .groupBy("source")
          .agg(sum("en").as("nx"),
            sum(col("en") * col("n_chars")).as("sx"),
            sum(lit(1L) - col("en")).as("ny"),
            sum((lit(1L) - col("en")) * col("n_chars")).as("sy"))
          .filter(col("nx") >= 1 && col("ny") >= 1)
          .select(col("source"),
            expr("(100 * nx * ny) div (nx + ny)").as("w100"),
            expr("CAST(round(100 * (CAST(sx AS DOUBLE) / nx" +
              " - CAST(sy AS DOUBLE) / ny), 0) AS BIGINT)").as("d100"))
          .repartition(col("source")) // its two readers reuse this exchange
        val pooled = per.agg(count(lit(1)).as("k"),
            sum("w100").cast("long").as("sw"),
            sum(col("w100") * col("d100")).cast("long").as("swd"))
          .withColumn("pooled100", expr(
            "CAST(round(CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE), 0)" +
              " AS BIGINT)"))
        per.crossJoin(broadcast(pooled))
          .select(col("k"), col("sw"), col("swd"), col("pooled100"),
            (col("w100") * (col("d100") - col("pooled100"))
              * (col("d100") - col("pooled100"))).as("qi"))
          .groupBy("k", "sw", "swd", "pooled100")
          .agg(sum("qi").cast("long").as("sq"))
          .select(col("k"),
            (col("swd").cast("double")
              / (lit(100.0) * col("sw").cast("double"))).as("pooled_d"),
            (col("sq").cast("double") / 1e6).as("q_stat"),
            when(col("sq") > 0,
              greatest(lit(0.0), (col("sq").cast("double") / 1e6
                - (col("k") - 1).cast("double"))
                / (col("sq").cast("double") / 1e6))).as("i2"))
      }),

      // --- Neyman optimal allocation: how a 1000-row audit sample
      // should split across segments (∝ N_h·S_h — big AND volatile
      // strata earn more rows than proportional allocation gives).
      // Per-stratum sd from exact cents moments; the 5 weight terms
      // cross strata via DECIMAL(18,4); the final counts are floors
      // of one fixed double tree. ---
      "q_neyman_alloc" -> ((s, d) => {
        val m = table(s, d, "customer")
          .select(col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100, 0).cast("long").as("x"))
          .groupBy("seg")
          .agg(count(lit(1)).as("nh"), sum("x").as("sx"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("sd", sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") / col("nh")) /
            col("nh")) / lit(100.0))
          .withColumn("w", col("nh") * col("sd"))
        val tot = m.agg(sum(dec(col("w"))).cast("double").as("wtot"))
        m.crossJoin(broadcast(tot))
          .select(col("seg"), col("nh").as("n"), col("sd"),
            (col("w") / col("wtot")).as("alloc_share"),
            floor(lit(1000.0) * col("w") / col("wtot")).cast("long")
              .as("alloc_n"))
          .orderBy("seg")
      }),

      // --- Mantel-Haenszel pooled odds ratio across activity tiers:
      // the confounder-adjusted version of q_odds_ratio ("heavy
      // clickers buy more — or are active users just heavy at
      // everything?"). Users stratify by total-event tier (fixed
      // integer cuts); per-stratum 2×2 cells are exact; the MH terms
      // a·d/n and b·c/n are one exact-rational double each, summed
      // across the O(1) strata via DECIMAL(18,4); crude OR rides
      // along for the Simpson's-paradox readout. ---
      "q_mantel_haenszel" -> ((s, d) => {
        val per = table(s, d, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("tot"),
            (sum(when(col("event_type") === "click", 1L).otherwise(0L))
              >= 14L).as("ex"),
            (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              >= 14L).as("oc"))
          .withColumn("tier",
            when(col("tot") < 60L, 0L).when(col("tot") < 70L, 1L)
              .otherwise(2L))
        def cell(e: Boolean, o: Boolean, nm: String) =
          sum(when(col("ex") === e && col("oc") === o, 1L).otherwise(0L))
            .as(nm)
        val strata = per.groupBy("tier")
          .agg(cell(e = true, o = true, "a"),
            cell(e = true, o = false, "b"),
            cell(e = false, o = true, "c"),
            cell(e = false, o = false, "dd"),
            count(lit(1)).as("n"))
        val pooled = strata.agg(
          count(lit(1)).as("n_strata"),
          sum(dec((col("a") * col("dd")).cast("double") / col("n")))
            .cast("double").as("num"),
          sum(dec((col("b") * col("c")).cast("double") / col("n")))
            .cast("double").as("den"),
          sum("a").as("ta"), sum("b").as("tb"), sum("c").as("tc"),
          sum("dd").as("td"))
        pooled.select(col("n_strata"),
          (col("ta").cast("double") * col("td") /
            (col("tb").cast("double") * col("tc"))).as("or_crude"),
          (col("num") / col("den")).as("or_mh"))
      }),

      // --- Breslow-Day homogeneity test (round 16): the question
      // q_mantel_haenszel's pooled OR silently assumes away — is the
      // odds ratio actually COMMON across the activity tiers, or is
      // the pooled number averaging over real effect heterogeneity?
      // Same per-user 2×2 strata as MH; under the MH common OR ψ each
      // stratum's expected exposed-case count solves the quadratic
      // (ψ−1)E² − [ψ(n₁+m₁) + (n₀−m₁)]E + ψn₁m₁ = 0 (closed-form
      // root, one √ — the in-range root selected by the same CASE on
      // both engines; ψ=1 degenerates to the linear n₁m₁/N), variance
      // is the harmonic of the four fitted cells, and χ²_BD =
      // Σ(a−E)²/V with per-stratum terms DECIMAL-quantized before the
      // O(strata) sum (the MH num/den discipline). Zero-margin strata
      // are excluded on both engines (their 2×2 carries no OR
      // information). O(tiers) everywhere past the user aggregate. ---
      "q_breslow_day" -> ((s, d) => {
        val per = table(s, d, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("tot"),
            (sum(when(col("event_type") === "click", 1L).otherwise(0L))
              >= 14L).as("ex"),
            (sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)) >= 14L).as("oc"))
          .withColumn("tier",
            when(col("tot") < 60L, 0L).when(col("tot") < 70L, 1L)
              .otherwise(2L))
        def cell(e: Boolean, o: Boolean, nm: String) =
          sum(when(col("ex") === e && col("oc") === o, 1L).otherwise(0L))
            .as(nm)
        val strata = per.groupBy("tier")
          .agg(cell(e = true, o = true, "a"),
            cell(e = true, o = false, "b"),
            cell(e = false, o = true, "c"),
            cell(e = false, o = false, "dd"),
            count(lit(1)).as("n"))
          .filter(col("a") + col("b") > 0 && col("c") + col("dd") > 0
            && col("a") + col("c") > 0 && col("b") + col("dd") > 0)
        val pooled = strata.agg(
          count(lit(1)).as("n_strata"),
          sum(dec((col("a") * col("dd")).cast("double") / col("n")))
            .cast("double").as("num"),
          sum(dec((col("b") * col("c")).cast("double") / col("n")))
            .cast("double").as("den"))
        val psi = col("num") / col("den")
        val n1 = (col("a") + col("b")).cast("double")
        val n0 = (col("c") + col("dd")).cast("double")
        val m1 = (col("a") + col("c")).cast("double")
        val aa = psi - 1.0
        val bb = -(psi * (n1 + m1) + (n0 - m1))
        val cc = psi * n1 * m1
        val disc = bb * bb - lit(4.0) * aa * cc
        val e1 = (-bb - sqrt(disc)) / (lit(2.0) * aa)
        val e2 = (-bb + sqrt(disc)) / (lit(2.0) * aa)
        val lo = greatest(lit(0.0), m1 - n0)
        val hi = least(n1, m1)
        val ee = when(psi === 1.0, n1 * m1 / col("n"))
          .when(e1 >= lo && e1 <= hi, e1)
          .otherwise(e2)
        val vv = lit(1.0) / (lit(1.0) / ee + lit(1.0) / (n1 - ee)
          + lit(1.0) / (m1 - ee) + lit(1.0) / (n0 - m1 + ee))
        val term = (col("a") - ee) * (col("a") - ee) / vv
        strata.crossJoin(broadcast(pooled))
          .groupBy("n_strata", "num", "den")
          .agg(sum(dec(term)).cast("double").as("chi2_bd"))
          .select(col("n_strata"),
            (col("n_strata") - 1L).as("df"),
            (col("num") / col("den")).as("or_mh"),
            col("chi2_bd"))
      }),

      // --- leave-one-source-out top-10 stability: does any single
      // source DECIDE the global top-10 tokens (the robustness check
      // before trusting a vocabulary or cache list)? Global and
      // per-source counts come off one tokenize pass; the LOO
      // ranking per source runs a window over the (sources ×
      // vocabulary) relation — dimensions-sized, never corpus-sized;
      // the global top-10 membership probe is a broadcast semi
      // join. ---
      "q_topk_loo" -> ((s, d) => {
        val toks = table(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val glob = toks.groupBy("w").agg(count(lit(1)).as("c"))
        // global top-10 as a TakeOrdered (orderBy+limit), never a
        // full-vocabulary row_number window: the executor-side
        // per-partition top-10s reduce on the driver, so no single
        // task ever sorts the whole vocabulary.
        val gtop = glob.orderBy(col("c").desc, col("w").asc).limit(10)
          .select(col("w")).withColumn("g", lit(1L))
        val perSrc = toks.groupBy("source", "w")
          .agg(count(lit(1)).as("cs"))
        val sources = toks.select("source").distinct()
        val loo = sources.crossJoin(glob)
          .join(perSrc, Seq("source", "w"), "left")
          .select(col("source"), col("w"),
            (col("c") - coalesce(col("cs"), lit(0L))).as("cl"))
          .filter(col("cl") > 0L)
        val wl = Window.partitionBy("source")
          .orderBy(col("cl").desc, col("w").asc)
        loo.withColumn("rk", row_number().over(wl))
          .filter(col("rk") <= 10)
          .join(broadcast(gtop), Seq("w"), "left")
          .groupBy("source")
          .agg(sum(coalesce(col("g"), lit(0L))).as("n_common"))
          .select(col("source"), col("n_common"),
            (lit(10L) - col("n_common")).as("churn"))
          .orderBy("source")
      }),

      // --- price elasticity proxy per manufacturer: the OLS slope of
      // line quantity on unit price (cents) — the demand-curve
      // readout category managers act on. Unit price quantizes to
      // exact cents map-side; the five moments accumulate in
      // DECIMAL(38,0); slope and r are one fixed tree per group. ---
      "q_elasticity" -> ((s, d) => {
        val d38 = DecimalType(38, 0)
        val li = table(s, d, "lineitem")
          .join(table(s, d, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_type"),
            // floor, not round: both engines floor the BINARY double
            // (Math.floor / C floor), while round() disagrees on values
            // whose shortest-decimal printout fakes a tie
            floor(col("l_extendedprice") / col("l_quantity") * 100)
              .cast("long").as("x"),
            col("l_quantity").cast("long").as("y"))
        def m(c: org.apache.spark.sql.Column) = sum(c.cast(d38))
        li.groupBy("p_type")
          .agg(count(lit(1)).as("n"), m(col("x")).as("sx"),
            m(col("y")).as("sy"), m(col("x") * col("x")).as("sxx"),
            m(col("y") * col("y")).as("syy"),
            m(col("x") * col("y")).as("sxy"))
          .select(col("p_type"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as("slope_qty_per_cent"),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))).as("r"))
          .orderBy("p_type")
      }),

      // --- cross-price arc elasticity between brands (round 16): for
      // every ordered brand pair (A, B), %Δ quantity of A against
      // %Δ unit price of B between the first and second half of the
      // shipping window — the substitution/complement screen beside
      // q_elasticity's own-price slope. Midpoint (arc) percent
      // changes stay EXACT RATIONAL: the quantity side is
      // (q2−q1)/(q2+q1) off int64 unit sums, and the price side
      // cross-multiplies to (c2·u1 − c1·u2)/(c2·u1 + c1·u2) so no
      // per-half division ever happens — FP is three terminal
      // divisions per pair. Facts reduce to the O(brands) half-grid
      // first; the pair grid is a broadcast O(brands²) BNLJ over that
      // dimension relation, never a fact-side join. Flat-price pairs
      // guard to NULL identically on both engines. ---
      "q_cross_elasticity" -> ((s, d) => {
        val li = table(s, d, "lineitem").select(
          col("l_partkey").as("pk"),
          col("l_shipdate").cast("date").as("sd"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            .as("epc"),
          expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"))
        val p = table(s, d, "part")
          .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
        val bounds = li.agg(min("sd").as("mn"), max("sd").as("mx"))
        val wide = li.join(broadcast(p), "pk")
          .crossJoin(broadcast(bounds))
          .select(col("brand"),
            (datediff(col("sd"), col("mn")) * 2 >=
              datediff(col("mx"), col("mn")) + 1).cast("long").as("h"),
            col("epc"), col("q"))
          .groupBy("brand")
          .agg(sum(when(col("h") === 0L, col("epc"))).cast("long")
            .as("c1"),
            sum(when(col("h") === 0L, col("q"))).cast("long").as("u1"),
            sum(when(col("h") === 1L, col("epc"))).cast("long")
              .as("c2"),
            sum(when(col("h") === 1L, col("q"))).cast("long").as("u2"))
          .filter(col("u1") > 0 && col("u2") > 0)
          // kept: 0.47 -> 0.55 s without, +15 % with a shared repartition
          .localCheckpoint()
        val aSide = wide.select(col("brand").as("brand_a"),
          col("u1").as("qa1"), col("u2").as("qa2"))
        val bSide = wide.select(col("brand").as("brand_b"),
          col("c1").as("cb1"), col("u1").as("ub1"),
          col("c2").as("cb2"), col("u2").as("ub2"))
        val dq = (col("qa2") - col("qa1")).cast("double") /
          (col("qa2") + col("qa1")).cast("double")
        val pNum = col("cb2") * col("ub1") - col("cb1") * col("ub2")
        val pDen = col("cb2") * col("ub1") + col("cb1") * col("ub2")
        val dp = pNum.cast("double") / pDen.cast("double")
        aSide.join(broadcast(bSide), col("brand_a") =!= col("brand_b"))
          .select(col("brand_a"), col("brand_b"), dq.as("dq"),
            dp.as("dp"),
            when(pNum =!= 0L, dq / dp).as("cross_elast"))
          .orderBy("brand_a", "brand_b")
      }),

      // --- ABC revenue classification: parts ranked by revenue, class
      // A to the first 80% of cumulative revenue, B to 95%, C the
      // tail — the inventory-policy classic. Revenue reduces to the
      // parts DIMENSION first (facts never sort). The cumulative sum
      // is BANDED (the q_gini / q_dense_ids discipline): per-part
      // revenue is bounded by the fixed lineitems-per-part ratio, so
      // banding the cents DOMAIN ($10k bands) yields an O(bands)
      // relation whose exclusive prefix-sum — ordered band-desc, the
      // only global window — carries each band's starting offset;
      // the in-band cumsum then runs PARTITIONED by band. Rows in a
      // strictly higher band have strictly larger cents, so
      // off(band) + in-band cum reproduces the global (cents desc,
      // partkey asc) cumulative exactly; class cuts stay the same
      // exact integer comparisons (cum·5 ≤ 4·total, cum·20 ≤
      // 19·total) so no floating-point boundary flips a class. ---
      "q_abc_class" -> ((s, d) => {
        val rev = table(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"))
          .withColumn("band",
            floor(col("cents").cast("double") / 1.0e6).cast("long"))
        val wb = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = rev.groupBy("band").agg(sum("cents").as("sb"))
          .withColumn("off", coalesce(sum("sb").over(wb), lit(0L)))
          .select("band", "off")
        val wr = Window.partitionBy("band")
          .orderBy(col("cents").desc, col("l_partkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = rev.agg(sum("cents").as("tc"))
        rev
          .join(broadcast(offs), "band")
          .withColumn("cum", col("off") + sum("cents").over(wr))
          .crossJoin(broadcast(tot))
          .withColumn("cls",
            when(col("cum") * 5 <= col("tc") * 4, "A")
              .when(col("cum") * 20 <= col("tc") * 19, "B")
              .otherwise("C"))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("cents"))
          .crossJoin(broadcast(tot))
          .select(col("cls"), col("n_parts"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            (col("cents").cast("double") / col("tc")).as("revenue_share"))
          .orderBy("cls")
      }),

      // --- ABC × XYZ inventory matrix (round 14): q_abc_class's
      // cumulative-revenue classing crossed with demand-VARIABILITY
      // classes — the 9-cell planning matrix inventory policy is set
      // from (AX = automate, CZ = make-to-order). The ABC leg reuses
      // the banded-offset cumulative spelling (the only global window
      // runs over revenue BANDS). The XYZ leg is one (part, month)
      // aggregate then exact integer moment comparisons: cv² =
      // (m·Σq²−S²)/S², so X (cv ≤ ½) ⇔ 4(m·Σq²−S²) ≤ S² and Y (cv ≤
      // 1) ⇔ m·Σq²−S² ≤ S² — class cuts are pure int64 cross-
      // multiplications, no sqrt and no FP boundary to flip. Output is
      // ≤9 cells. ---
      "q_abc_xyz" -> ((s, d) => {
        val li = table(s, d, "lineitem")
        val rev = li.groupBy(col("l_partkey"))
          .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"))
          .withColumn("band",
            floor(col("cents").cast("double") / 1.0e6).cast("long"))
        val wb = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = rev.groupBy("band").agg(sum("cents").as("sb"))
          .withColumn("off", coalesce(sum("sb").over(wb), lit(0L)))
          .select("band", "off")
        val wr = Window.partitionBy("band")
          .orderBy(col("cents").desc, col("l_partkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = rev.agg(sum("cents").as("tc"))
        val abc = rev.join(broadcast(offs), "band")
          .withColumn("cum", col("off") + sum("cents").over(wr))
          .crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("cents"),
            when(col("cum") * 5 <= col("tc") * 4, "A")
              .when(col("cum") * 20 <= col("tc") * 19, "B")
              .otherwise("C").as("abc"))
        val qm = li.select(col("l_partkey"),
            date_trunc("month", col("l_shipdate")).as("mth"),
            round(col("l_quantity"), 0).cast("long").as("q"))
          .groupBy("l_partkey", "mth").agg(sum("q").as("mq"))
        val xyz = qm.groupBy("l_partkey")
          .agg(count(lit(1)).as("m"), sum("mq").as("sq"),
            sum(col("mq") * col("mq")).as("sqq"))
          .select(col("l_partkey"),
            when((col("m") * col("sqq") - col("sq") * col("sq")) * 4
                <= col("sq") * col("sq"), "X")
              .when(col("m") * col("sqq") - col("sq") * col("sq")
                <= col("sq") * col("sq"), "Y")
              .otherwise("Z").as("xyz"))
        abc.join(xyz, "l_partkey")
          .groupBy("abc", "xyz")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("cents"))
          .crossJoin(broadcast(tot))
          .select(col("abc"), col("xyz"), col("n_parts"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            (col("cents").cast("double") / col("tc")).as("revenue_share"))
          .orderBy("abc", "xyz")
      }),

      // --- raking / iterative proportional fitting (round 14): fit
      // per-cell sample weights so BOTH margins (source rows, lang
      // columns) match the corpus — the survey-statistics step beyond
      // q_post_stratify, which can only correct ONE margin at a time.
      // Two unrolled IPF iterations (row-scale, column-scale, twice);
      // every relation is O(cells) = |sources|×|langs| after the one
      // corpus scan, margins ride broadcast rows, and each scaling's
      // cell-mass sums quantize to DECIMAL(18,6) before adding so the
      // running masses are bit-equal across engines (the multiplier
      // chain per cell is a fixed expression tree). Cells the sample
      // misses are excluded from the fit — documented standard-raking
      // precondition, margins recomputed over covered cells. ---
      "q_raking_ipf" -> ((s, d) => {
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        val cells = table(s, d, "documents")
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_corpus"),
            sum((nib <= "b").cast("long")).as("n_sample"))
          .filter(col("n_sample") > 0)
        val rowT = cells.groupBy("source")
          .agg(sum("n_corpus").as("rt"))
        val colT = cells.groupBy("lang")
          .agg(sum("n_corpus").as("ct"))
        var w = cells.withColumn("m", col("n_sample").cast("double"))
        for (_ <- 1 to 2) {
          val rs = w.groupBy("source")
            .agg(sum(col("m").cast("decimal(18,6)")).cast("double")
              .as("rs"))
          w = w.join(broadcast(rs), "source")
            .join(broadcast(rowT), "source")
            .withColumn("m",
              col("m") * (col("rt").cast("double") / col("rs")))
            .drop("rs", "rt")
          val cs = w.groupBy("lang")
            .agg(sum(col("m").cast("decimal(18,6)")).cast("double")
              .as("cs"))
          w = w.join(broadcast(cs), "lang")
            .join(broadcast(colT), "lang")
            .withColumn("m",
              col("m") * (col("ct").cast("double") / col("cs")))
            .drop("cs", "ct")
        }
        w.select(col("source"), col("lang"), col("n_corpus"),
            col("n_sample"),
            (col("m") / col("n_sample").cast("double")).as("weight"),
            col("m").as("fitted"))
          .orderBy("source", "lang")
      }),

      // --- post-stratification readout: estimate corpus mean doc
      // length from the md5 TRAIN sample (q_train_split's <= 'b'
      // nibble gate), re-weighting each source stratum's sample mean
      // by its CORPUS share — the survey-statistics correction for a
      // sample whose strata mix drifted. One scan produces corpus and
      // sample tallies per stratum (conditional aggregates); every
      // mean/weight/contribution is a single division or fixed tree
      // off exact int64 sums; N rides a broadcast 1-row total.
      // O(sources) out, with the per-stratum sampling bias exposed. ---
      "q_post_stratify" -> ((s, d) => {
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        val g = table(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_corpus"),
            sum(col("n_chars")).as("chars_corpus"),
            sum((nib <= "b").cast("long")).as("n_sample"),
            sum(when(nib <= "b", col("n_chars")).otherwise(0L))
              .as("chars_sample"))
        val tot = g.agg(sum("n_corpus").as("n_tot"))
        g.crossJoin(broadcast(tot))
          .select(col("source"), col("n_corpus"), col("n_sample"),
            (col("n_corpus").cast("double") / col("n_tot").cast("double"))
              .as("w_h"),
            (col("chars_sample").cast("double") /
              col("n_sample").cast("double")).as("sample_mean"),
            (col("chars_corpus").cast("double") /
              col("n_corpus").cast("double")).as("true_mean"),
            ((col("n_corpus").cast("double") /
              col("n_tot").cast("double")) *
              (col("chars_sample").cast("double") /
                col("n_sample").cast("double"))).as("contrib"),
            (col("chars_sample").cast("double") /
              col("n_sample").cast("double") -
              col("chars_corpus").cast("double") /
                col("n_corpus").cast("double")).as("sample_bias"))
          .orderBy("source")
      })
    )

  override def oracle: Map[String, String] = Map(

    "q_cross_elasticity" ->
      """WITH li AS (SELECT l_partkey AS pk,
        |    CAST(l_shipdate AS DATE) AS sd,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q
        |  FROM lineitem),
        |b AS (SELECT MIN(sd) AS mn, MAX(sd) AS mx FROM li),
        |wide AS (SELECT p_brand AS brand,
        |    CAST(SUM(CASE WHEN h = 0 THEN epc END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN h = 0 THEN q END) AS BIGINT) AS u1,
        |    CAST(SUM(CASE WHEN h = 1 THEN epc END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN h = 1 THEN q END) AS BIGINT) AS u2
        |  FROM (SELECT pk, epc, q,
        |      CASE WHEN date_diff('day', mn, sd) * 2
        |          >= date_diff('day', mn, mx) + 1
        |        THEN 1 ELSE 0 END AS h
        |    FROM li CROSS JOIN b) t
        |  JOIN part ON t.pk = p_partkey
        |  GROUP BY 1 HAVING CAST(SUM(CASE WHEN h = 0 THEN q END)
        |      AS BIGINT) > 0
        |    AND CAST(SUM(CASE WHEN h = 1 THEN q END) AS BIGINT) > 0)
        |SELECT a.brand AS brand_a, bb.brand AS brand_b,
        |  CAST(a.u2 - a.u1 AS DOUBLE) / CAST(a.u2 + a.u1 AS DOUBLE)
        |    AS dq,
        |  CAST(bb.c2 * bb.u1 - bb.c1 * bb.u2 AS DOUBLE)
        |    / CAST(bb.c2 * bb.u1 + bb.c1 * bb.u2 AS DOUBLE) AS dp,
        |  CASE WHEN bb.c2 * bb.u1 - bb.c1 * bb.u2 <> 0 THEN
        |    (CAST(a.u2 - a.u1 AS DOUBLE) / CAST(a.u2 + a.u1 AS DOUBLE))
        |    / (CAST(bb.c2 * bb.u1 - bb.c1 * bb.u2 AS DOUBLE)
        |      / CAST(bb.c2 * bb.u1 + bb.c1 * bb.u2 AS DOUBLE)) END
        |    AS cross_elast
        |FROM wide a JOIN wide bb ON a.brand <> bb.brand
        |ORDER BY brand_a, brand_b""".stripMargin,

    "q_meta_effect" ->
      """WITH per0 AS (SELECT source,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nx,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)
        |      AS BIGINT) AS sx,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS ny,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE n_chars END)
        |      AS BIGINT) AS sy
        |  FROM documents GROUP BY 1),
        |per AS (SELECT source,
        |    (100 * nx * ny) // (nx + ny) AS w100,
        |    CAST(round(100 * (CAST(sx AS DOUBLE) / nx
        |      - CAST(sy AS DOUBLE) / ny), 0) AS BIGINT) AS d100
        |  FROM per0 WHERE nx >= 1 AND ny >= 1),
        |p1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(w100) AS BIGINT) AS sw,
        |    CAST(SUM(w100 * d100) AS BIGINT) AS swd FROM per),
        |p2 AS (SELECT k, sw, swd,
        |    CAST(round(CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE), 0)
        |      AS BIGINT) AS pooled100 FROM p1),
        |q AS (SELECT k, sw, swd, pooled100,
        |    CAST(SUM(w100 * (d100 - pooled100) * (d100 - pooled100))
        |      AS BIGINT) AS sq
        |  FROM per CROSS JOIN p2 GROUP BY 1, 2, 3, 4)
        |SELECT k,
        |  CAST(swd AS DOUBLE) / (100.0 * CAST(sw AS DOUBLE))
        |    AS pooled_d,
        |  CAST(sq AS DOUBLE) / 1e6 AS q_stat,
        |  CASE WHEN sq > 0 THEN GREATEST(0.0,
        |    (CAST(sq AS DOUBLE) / 1e6 - CAST(k - 1 AS DOUBLE))
        |      / (CAST(sq AS DOUBLE) / 1e6)) END AS i2
        |FROM q""".stripMargin,

    "q_neyman_alloc" ->
      """WITH m AS (SELECT c_mktsegment AS seg,
        |    CAST(COUNT(*) AS BIGINT) AS nh,
        |    CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |      AS BIGINT) AS sx,
        |    CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT) *
        |      CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS sxx
        |  FROM customer GROUP BY 1),
        |w AS (SELECT seg, nh,
        |    sqrt((CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * sx / nh) / nh) / 100.0 AS sd
        |  FROM m),
        |w2 AS (SELECT seg, nh, sd, nh * sd AS w FROM w),
        |t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(18,4))) AS DOUBLE)
        |    AS wtot FROM w2)
        |SELECT seg, nh AS n, sd,
        |  w / wtot AS alloc_share,
        |  CAST(floor(1000.0 * w / wtot) AS BIGINT) AS alloc_n
        |FROM w2 CROSS JOIN t ORDER BY seg""".stripMargin,

    "q_breslow_day" ->
      """WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS tot,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14
        |      AS ex,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 AS oc
        |  FROM events GROUP BY user_id),
        |tiers AS (SELECT CASE WHEN tot < 60 THEN 0
        |    WHEN tot < 70 THEN 1 ELSE 2 END AS tier, ex, oc FROM per),
        |st0 AS (SELECT tier,
        |    CAST(SUM(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tiers GROUP BY tier),
        |st AS (SELECT * FROM st0
        |  WHERE a + b > 0 AND c + dd > 0 AND a + c > 0 AND b + dd > 0),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(CAST(CAST(a * dd AS DOUBLE) / n
        |      AS DECIMAL(18,4))) AS DOUBLE) AS num,
        |    CAST(SUM(CAST(CAST(b * c AS DOUBLE) / n
        |      AS DECIMAL(18,4))) AS DOUBLE) AS den
        |  FROM st),
        |q AS (SELECT st.a AS a, st.n AS n,
        |    CAST(st.a + st.b AS DOUBLE) AS n1,
        |    CAST(st.c + st.dd AS DOUBLE) AS n0,
        |    CAST(st.a + st.c AS DOUBLE) AS m1,
        |    p.n_strata AS n_strata, p.num AS num, p.den AS den,
        |    p.num / p.den AS psi
        |  FROM st CROSS JOIN p),
        |eq AS (SELECT *, psi - 1.0 AS aa,
        |    -(psi * (n1 + m1) + (n0 - m1)) AS bb,
        |    psi * n1 * m1 AS cc
        |  FROM q),
        |rt AS (SELECT *,
        |    (-bb - sqrt(bb * bb - 4.0 * aa * cc)) / (2.0 * aa) AS r1,
        |    (-bb + sqrt(bb * bb - 4.0 * aa * cc)) / (2.0 * aa) AS r2
        |  FROM eq),
        |ev AS (SELECT *, CASE WHEN psi = 1.0 THEN n1 * m1 / n
        |    WHEN r1 >= greatest(0.0, m1 - n0) AND r1 <= least(n1, m1)
        |      THEN r1
        |    ELSE r2 END AS e
        |  FROM rt),
        |vv AS (SELECT *,
        |    1.0 / (1.0 / e + 1.0 / (n1 - e) + 1.0 / (m1 - e)
        |      + 1.0 / (n0 - m1 + e)) AS v
        |  FROM ev)
        |SELECT n_strata, CAST(n_strata - 1 AS BIGINT) AS df,
        |  num / den AS or_mh,
        |  CAST(SUM(CAST((a - e) * (a - e) / v AS DECIMAL(18,4)))
        |    AS DOUBLE) AS chi2_bd
        |FROM vv GROUP BY 1, 2, 3""".stripMargin,

    "q_mantel_haenszel" ->
      """WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS tot,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14
        |      AS ex,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 AS oc
        |  FROM events GROUP BY user_id),
        |tiers AS (SELECT CASE WHEN tot < 60 THEN 0
        |    WHEN tot < 70 THEN 1 ELSE 2 END AS tier, ex, oc FROM per),
        |st AS (SELECT tier,
        |    CAST(SUM(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tiers GROUP BY tier),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(CAST(CAST(a * dd AS DOUBLE) / n
        |      AS DECIMAL(18,4))) AS DOUBLE) AS num,
        |    CAST(SUM(CAST(CAST(b * c AS DOUBLE) / n
        |      AS DECIMAL(18,4))) AS DOUBLE) AS den,
        |    CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
        |    CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(dd) AS BIGINT) AS td
        |  FROM st)
        |SELECT n_strata,
        |  CAST(ta AS DOUBLE) * td / (CAST(tb AS DOUBLE) * tc)
        |    AS or_crude,
        |  num / den AS or_mh
        |FROM p""".stripMargin,

    "q_topk_loo" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |g AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY w),
        |gt AS (SELECT w FROM (SELECT w,
        |    row_number() OVER (ORDER BY c DESC, w) AS rk FROM g)
        |  WHERE rk <= 10),
        |ps AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
        |  FROM t GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM t),
        |loo AS (SELECT srcs.source, g.w,
        |    g.c - COALESCE(ps.cs, 0) AS cl
        |  FROM srcs CROSS JOIN g
        |  LEFT JOIN ps ON ps.source = srcs.source AND ps.w = g.w),
        |lr AS (SELECT source, w,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cl DESC, w) AS rk
        |  FROM loo WHERE cl > 0)
        |SELECT source,
        |  CAST(SUM(CASE WHEN w IN (SELECT w FROM gt) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_common,
        |  CAST(10 - SUM(CASE WHEN w IN (SELECT w FROM gt)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS churn
        |FROM lr WHERE rk <= 10
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_elasticity" ->
      """WITH li AS (SELECT p_type,
        |    CAST(floor(l_extendedprice / l_quantity * 100)
        |      AS BIGINT) AS x,
        |    CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM li GROUP BY p_type)
        |SELECT p_type, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope_qty_per_cent,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) AS r
        |FROM m ORDER BY p_type""".stripMargin,

    "q_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM rev),
        |c AS (SELECT l_partkey, cents,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM rev),
        |cl AS (SELECT CASE WHEN cum * 5 <= tc * 4 THEN 'A'
        |    WHEN cum * 20 <= tc * 19 THEN 'B' ELSE 'C' END AS cls,
        |    cents, tc
        |  FROM c CROSS JOIN t)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
        |  CAST(SUM(cents) AS DOUBLE) / MAX(tc) AS revenue_share
        |FROM cl GROUP BY cls ORDER BY cls""".stripMargin,

    "q_abc_xyz" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 100
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM rev),
        |c AS (SELECT l_partkey, cents,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM rev),
        |abc AS (SELECT l_partkey, cents,
        |    CASE WHEN cum * 5 <= tc * 4 THEN 'A'
        |      WHEN cum * 20 <= tc * 19 THEN 'B' ELSE 'C' END AS abc
        |  FROM c CROSS JOIN t),
        |qm AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
        |    CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
        |      AS mq
        |  FROM lineitem GROUP BY 1, 2),
        |x AS (SELECT l_partkey,
        |    CASE WHEN (COUNT(*) * SUM(mq * mq) - SUM(mq) * SUM(mq)) * 4
        |        <= SUM(mq) * SUM(mq) THEN 'X'
        |      WHEN COUNT(*) * SUM(mq * mq) - SUM(mq) * SUM(mq)
        |        <= SUM(mq) * SUM(mq) THEN 'Y'
        |      ELSE 'Z' END AS xyz
        |  FROM qm GROUP BY 1)
        |SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
        |  CAST(SUM(cents) AS DOUBLE) / MAX(tc) AS revenue_share
        |FROM abc JOIN x USING (l_partkey) CROSS JOIN t
        |GROUP BY abc, xyz ORDER BY abc, xyz""".stripMargin,

    "q_raking_ipf" ->
      """WITH c0 AS (SELECT source, lang,
        |    CAST(COUNT(*) AS BIGINT) AS n_corpus,
        |    CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      <= 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT * FROM c0 WHERE n_sample > 0),
        |rt AS (SELECT source, CAST(SUM(n_corpus) AS BIGINT) AS rt
        |  FROM c GROUP BY 1),
        |ct AS (SELECT lang, CAST(SUM(n_corpus) AS BIGINT) AS ct
        |  FROM c GROUP BY 1),
        |w0 AS (SELECT source, lang, n_corpus, n_sample,
        |    CAST(n_sample AS DOUBLE) AS m FROM c),
        |r1 AS (SELECT source,
        |    CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS rs
        |  FROM w0 GROUP BY 1),
        |w1 AS (SELECT source, lang, n_corpus, n_sample,
        |    m * (CAST(rt AS DOUBLE) / rs) AS m
        |  FROM w0 JOIN r1 USING (source) JOIN rt USING (source)),
        |s1 AS (SELECT lang,
        |    CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS cs
        |  FROM w1 GROUP BY 1),
        |w2 AS (SELECT source, lang, n_corpus, n_sample,
        |    m * (CAST(ct AS DOUBLE) / cs) AS m
        |  FROM w1 JOIN s1 USING (lang) JOIN ct USING (lang)),
        |r2 AS (SELECT source,
        |    CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS rs
        |  FROM w2 GROUP BY 1),
        |w3 AS (SELECT source, lang, n_corpus, n_sample,
        |    m * (CAST(rt AS DOUBLE) / rs) AS m
        |  FROM w2 JOIN r2 USING (source) JOIN rt USING (source)),
        |s2 AS (SELECT lang,
        |    CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS cs
        |  FROM w3 GROUP BY 1),
        |w4 AS (SELECT source, lang, n_corpus, n_sample,
        |    m * (CAST(ct AS DOUBLE) / cs) AS m
        |  FROM w3 JOIN s2 USING (lang) JOIN ct USING (lang))
        |SELECT source, lang, n_corpus, n_sample,
        |  m / CAST(n_sample AS DOUBLE) AS weight, m AS fitted
        |FROM w4 ORDER BY source, lang""".stripMargin,

    "q_post_stratify" ->
      """WITH g AS (SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS n_corpus,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_corpus,
        |    CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      <= 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        |    CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      <= 'b' THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sample
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS n_tot FROM g)
        |SELECT source, n_corpus, n_sample,
        |  CAST(n_corpus AS DOUBLE) / CAST(n_tot AS DOUBLE) AS w_h,
        |  CAST(chars_sample AS DOUBLE) / CAST(n_sample AS DOUBLE)
        |    AS sample_mean,
        |  CAST(chars_corpus AS DOUBLE) / CAST(n_corpus AS DOUBLE)
        |    AS true_mean,
        |  (CAST(n_corpus AS DOUBLE) / CAST(n_tot AS DOUBLE))
        |    * (CAST(chars_sample AS DOUBLE) / CAST(n_sample AS DOUBLE))
        |    AS contrib,
        |  CAST(chars_sample AS DOUBLE) / CAST(n_sample AS DOUBLE)
        |    - CAST(chars_corpus AS DOUBLE) / CAST(n_corpus AS DOUBLE)
        |    AS sample_bias
        |FROM g CROSS JOIN t ORDER BY source""".stripMargin
  )
}

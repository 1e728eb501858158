package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Effect sizes, agreement & policy evaluation (round 8, batch 11):
  * Matthews correlation, Cohen's kappa and d, one alternating-least-
  * squares half-step, inverse-propensity off-policy evaluation, and the
  * Lorenz curve at decile boundaries. All six carry full DuckDB oracles.
  *
  * Determinism: exact int64/decimal moments everywhere; terminal
  * fixed-shape division/sqrt trees; the ALS step quantizes the user
  * factor through DECIMAL(18,4) so the item-side reduction is an exact
  * decimal sum (order-independent) instead of an order-dependent double
  * sum.
  */
object EffectSizes extends QueryModule {

  /** Shared binary-classifier cells over the embeddings (the
    * q_confusion construction): y = label parity, p = first-dim score
    * sign.
    */
  private def cells(s: SparkSession, d: String): DataFrame = {
    val e = table(s, d, "embeddings")
      .select((col("label") % 2 === 1).as("y"),
        (round(element_at(col("embedding"), 1).cast("double") * 1000, 0)
          .cast("long") > 0).as("p"))
    def cell(y: Boolean, p: Boolean, nm: String) =
      sum(when(col("y") === y && col("p") === p, 1L).otherwise(0L)).as(nm)
    e.agg(cell(y = true, p = true, "tp"), cell(y = false, p = true, "fp"),
      cell(y = true, p = false, "fn"), cell(y = false, p = false, "tn"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- Fleiss' kappa (round 15): multi-rater agreement beyond
      // Cohen's two raters — here each order with ≥4 lines is an
      // "item" whose first four lines are the m=4 raters and whose
      // category is the line's return flag; the statistic asks
      // whether lines of one order agree on flag more than chance.
      // Every moment is an exact int64 off two aggregates: per-item
      // Σ_j n_ij² (for P̄ = (ΣΣn² − N·m)/(N·m·(m−1))) and per-category
      // column totals squared (for P̄e = ΣG_j²/(N·m)²). The N² in P̄e's
      // denominator is assembled in DOUBLE (16·N² overflows int64 past
      // N ~ 7.6e8 items; the numerators stay integer). FP enters only
      // at the two terminal ratios and the kappa assembly. 1-row out;
      // the (item, cat) aggregate shuffles on orderkey only. ---
      "q_fleiss_kappa" -> ((s, d) => {
        val li = table(s, d, "lineitem")
          .filter(col("l_linenumber") <= 4)
          .select(col("l_orderkey").as("ok"),
            col("l_returnflag").as("cat"))
        val items = li.groupBy("ok").agg(count(lit(1)).as("m"))
          .filter(col("m") === 4).select("ok")
        val nij = li.join(items, "ok").groupBy("ok", "cat")
          .agg(count(lit(1)).as("nij"))
        val gTot = nij.groupBy("ok")
          .agg(sum(col("nij") * col("nij")).as("s2"))
          .agg(count(lit(1)).as("n_items"),
            sum("s2").cast("long").as("ss2"))
        val gCat = nij.groupBy("cat")
          .agg(sum("nij").cast("long").as("gj"))
          .agg(sum(col("gj") * col("gj")).cast("long").as("sg2"))
        gTot.crossJoin(broadcast(gCat))
          .select(col("n_items"), lit(4L).as("m"),
            ((col("ss2") - lit(4L) * col("n_items")).cast("double")
              / (lit(12.0) * col("n_items").cast("double"))).as("p_bar"),
            (col("sg2").cast("double")
              / (lit(16.0) * col("n_items").cast("double")
                * col("n_items").cast("double"))).as("p_e"))
          // Zero-guard (round-16, ADVICE): p_e = 1 when every rating in
          // the corpus lands in one category; Spark's non-ANSI x/0
          // yields NULL while DuckDB's IEEE division yields NaN, so the
          // degenerate corpus would hash-mismatch unguarded (both
          // engines emit NULL under the unmatched WHEN/CASE).
          .withColumn("kappa",
            when(col("p_e") =!= 1.0,
              (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
      }),

      // --- rank-biserial correlation (round 16): the EFFECT SIZE that
      // belongs next to q_mannwhitney_u's significance — r = 2U/(n₁n₂)
      // − 1, the difference between the probability a random English
      // doc outranks a random non-English doc by length and its
      // converse. Ranks come from the value-HISTOGRAM midrank device
      // (2·mid = 2·prev + t + 1 exact int64; windows over O(distinct
      // lengths), never a corpus sort), so 2U₁ = Σt₁·mid2 − n₁(n₁+1)
      // stays exact; FP is ONE terminal division. Degenerate
      // single-group corpora guard to NULL on both engines. ---
      "q_rank_biserial" -> ((s, d) => {
        val hist = table(s, d, "documents")
          .select((col("lang") === "en").as("g1"),
            col("n_chars").cast("long").as("v"))
          .groupBy("v").agg(count(lit(1)).as("t"),
            sum(col("g1").cast("long")).as("t1"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val r = hist.withColumn("cum", sum("t").over(w))
          .withColumn("mr2",
            lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
        val agg = r.agg(sum("t1").cast("long").as("n1"),
          sum(col("t") - col("t1")).cast("long").as("n2"),
          sum(col("t1") * col("mr2")).cast("long").as("r2x"))
        agg.select(col("n1"), col("n2"),
          ((col("r2x") - col("n1") * (col("n1") + 1L)).cast("double")
            / 2.0).as("u1"),
          when(col("n1") > 0 && col("n2") > 0,
            (col("r2x") - col("n1") * (col("n1") + 1L)).cast("double")
              / (col("n1") * col("n2")).cast("double") - 1.0)
            .as("rank_biserial"))
      }),

      // --- Hodges-Lehmann shift estimator (round 16): the MAGNITUDE
      // companion to q_mannwhitney_u's significance and
      // q_rank_biserial's standardized effect — the lower median of
      // all pairwise differences view − click over the rounded-dollar
      // value domain, the location shift a rank test actually
      // detects. The difference multiset never materializes per pair:
      // the two value HISTOGRAMS cross through a broadcast nested
      // loop (V×V ≤ ~250k cells, bounded by the fixed value domain at
      // any SF — never a corpus×corpus join) with weight c₁·c₂, and
      // the lower median is the deterministic cum·2 ≥ n₁n₂ integer
      // cut (the q_seasonal_sen discipline). All exact int64
      // (pair-count Σ = n₁·n₂ needs n₁,n₂ < 3e9 — documented);
      // zero FP in the estimate. ---
      "q_hodges_lehmann" -> ((s, d) => {
        val ev = table(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"))
        val h1 = ev.filter(col("event_type") === "click")
          .groupBy(col("v").as("v1")).agg(count(lit(1)).as("c1"))
        val h2 = ev.filter(col("event_type") === "view")
          .groupBy(col("v").as("v2")).agg(count(lit(1)).as("c2"))
        val diffs = h1.crossJoin(broadcast(h2))
          .groupBy((col("v2") - col("v1")).as("diff"))
          .agg(sum(col("c1") * col("c2")).as("w"))
        val wc = Window.orderBy("diff")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = diffs.agg(sum("w").as("np"))
        diffs.withColumn("cum", sum("w").over(wc))
          .crossJoin(broadcast(tot))
          .groupBy("np")
          .agg(min(when(col("cum") * 2 >= col("np"), col("diff")))
            .as("hl_shift"))
          .select(col("np").as("n_pairs"), col("hl_shift"))
      }),

      // --- Matthews correlation coefficient: the single balanced
      // number for a binary classifier that precision/recall/F1
      // (q_confusion) can each hide — robust to class imbalance. One
      // conditional-sum pass to four exact int64 cells; numerator and
      // the four marginal products move to double BEFORE multiplying
      // (int64 would overflow at ~1e5 rows per cell squared), in one
      // fixed tree shared with the oracle. ---
      "q_mcc" -> ((s, d) => {
        val num = col("tp").cast("double") * col("tn") -
          col("fp").cast("double") * col("fn")
        val den = sqrt((col("tp") + col("fp")).cast("double") *
          (col("tp") + col("fn")) * (col("tn") + col("fp")) *
          (col("tn") + col("fn")))
        cells(s, d).select(col("tp"), col("fp"), col("fn"), col("tn"),
          (num / den).as("mcc"))
      }),

      // --- Cohen's kappa between two deterministic raters (first-dim
      // sign vs second-dim sign): chance-corrected agreement, the
      // label-quality readout when two annotation pipelines disagree.
      // κ = (n·agree − Σ marginal products)/(n² − Σ marginal products)
      // stays EXACT int64 until one division. ---
      "q_cohens_kappa" -> ((s, d) => {
        def rater(i: Int): Column =
          round(element_at(col("embedding"), i).cast("double") * 1000, 0)
            .cast("long") > 0
        val e = table(s, d, "embeddings")
          .select(rater(1).as("a"), rater(2).as("b"))
        e.agg(count(lit(1)).as("n"),
            sum((col("a") === col("b")).cast("long")).as("agree"),
            sum(col("a").cast("long")).as("a1"),
            sum(col("b").cast("long")).as("b1"))
          .select(col("n"), col("agree"),
            ((col("n") * col("agree") -
              (col("a1") * col("b1") +
                (col("n") - col("a1")) * (col("n") - col("b1"))))
              .cast("double") /
              (col("n") * col("n") -
                (col("a1") * col("b1") +
                  (col("n") - col("a1")) * (col("n") - col("b1"))))
                .cast("double")).as("kappa"))
      }),

      // --- Cohen's d effect size, click arm vs view arm (the
      // magnitude companion to q_ab_ttest's significance): pooled-sd
      // standardized mean difference from exact integer-quantized
      // moments — one conditional-sum pass, one fixed double tree. ---
      "q_cohens_d" -> ((s, d) => {
        val q = table(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
          .select((col("event_type") === "click").as("c"),
            round(col("value"), 0).cast("long").as("v"))
        def arm(c: Boolean, nm: String) = Seq(
          sum(when(col("c") === c, 1L).otherwise(0L)).as(s"n$nm"),
          sum(when(col("c") === c, col("v")).otherwise(0L)).as(s"s$nm"),
          sum(when(col("c") === c, col("v") * col("v")).otherwise(0L))
            .as(s"q$nm"))
        val m = q.agg((arm(c = true, "1") ++ arm(c = false, "2")).head,
          (arm(c = true, "1") ++ arm(c = false, "2")).tail: _*)
        val m1 = col("s1").cast("double") / col("n1")
        val m2 = col("s2").cast("double") / col("n2")
        val ss1 = col("q1").cast("double") -
          col("s1").cast("double") * col("s1") / col("n1")
        val ss2 = col("q2").cast("double") -
          col("s2").cast("double") * col("s2") / col("n2")
        val sp = sqrt((ss1 + ss2) / (col("n1") + col("n2") - lit(2L)))
        m.select(col("n1"), col("n2"), (m1 - m2).as("mean_diff"),
          ((m1 - m2) / sp).as("cohens_d"))
      }),

      // --- one ALS half-step (k=1) on the user × event-type count
      // matrix — the distributed recommender-training shape: item
      // factor v0 = type totals; user factor u = (R·v0)/(v0·v0) per
      // user (exact int64 ratio → one division, then QUANTIZED to
      // DECIMAL(18,4) so the item-side pass is an order-independent
      // exact decimal sum); new item factor v1 = (Rᵀu)/(uᵀu). Both
      // passes are map-side-combinable aggregates keyed on the natural
      // keys; the k=O(1) factor relations broadcast. ---
      "q_als_step" -> ((s, d) => {
        val r = table(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("rij"))
        val v0 = r.groupBy("event_type").agg(sum("rij").as("v0"))
        val v0n = v0.agg(sum(col("v0") * col("v0")).as("vv"))
        val dq = DecimalType(18, 4)
        val u = r.join(broadcast(v0), "event_type")
          .groupBy("user_id").agg(sum(col("rij") * col("v0")).as("rv"))
          .crossJoin(broadcast(v0n))
          .select(col("user_id"),
            (col("rv").cast("double") / col("vv")).cast(dq).as("uq"))
        val un = u.agg(sum(col("uq") * col("uq")).as("uu"))
        r.join(u, "user_id")
          .groupBy("event_type")
          .agg(sum(col("rij").cast(dq) * col("uq")).as("ru"))
          .crossJoin(broadcast(un))
          .join(broadcast(v0), "event_type")
          .select(col("event_type"), col("v0"),
            (col("ru").cast("double") / col("uu").cast("double"))
              .as("v1"))
          .orderBy("event_type")
      }),

      // --- inverse-propensity off-policy evaluation: what reward
      // would a uniform click/view policy have earned, estimated from
      // the logged traffic (the counterfactual readout every
      // ranking/serving change is judged by offline). Propensities are
      // the empirical arm shares, rewards are integer threshold hits,
      // so V̂_IPS = 0.5·(Σ_c r·n/n_c + Σ_v r·n/n_v)/n is EXACT
      // rational until two divisions. One conditional-sum pass. ---
      "q_ips_eval" -> ((s, d) => {
        val q = table(s, d, "events")
          .select(col("event_type"),
            (round(col("value"), 0).cast("long") > 50).cast("long")
              .as("r"))
        q.agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("nc"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("nv"),
            sum(when(col("event_type") === "click", col("r"))
              .otherwise(0L)).as("rc"),
            sum(when(col("event_type") === "view", col("r"))
              .otherwise(0L)).as("rv"))
          .select(col("n"), col("nc"), col("nv"),
            (col("rc").cast("double") / col("nc")).as("mean_r_click"),
            (col("rv").cast("double") / col("nv")).as("mean_r_view"),
            (lit(0.5) * (col("rc").cast("double") / col("nc") +
              col("rv").cast("double") / col("nv"))).as("ips_value"))
      }),

      // --- Lorenz curve at decile boundaries (the curve behind
      // q_gini): cumulative spend share at each population decile.
      // Customer spends quantize to cents and reduce to the O(bins)
      // value domain; cumulative count/spend windows run over that
      // relation only; each decile reads the largest bin with
      // cum_count ≤ k·n/10 — exact integer thresholds, shares are
      // terminal divisions. ---
      "q_lorenz_deciles" -> ((s, d) => {
        val spend = table(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
        val bins = spend.groupBy("cents").agg(count(lit(1)).as("c"))
        val wb = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bins
          .withColumn("cumc", sum("c").over(wb))
          .withColumn("cums", sum(col("c") * col("cents")).over(wb))
        val tot = cum.agg(max("cumc").as("n"), max("cums").as("stot"))
        val ks = broadcast(s.range(1, 11).select(col("id").as("k")))
        // cumc and cums are both monotone in cents, so the per-decile
        // boundary bin maximizes both at once — two plain MAXes
        cum.crossJoin(broadcast(tot)).crossJoin(ks)
          .filter(col("cumc") * lit(10L) <= col("k") * col("n"))
          .groupBy("k")
          .agg(max("cumc").as("bc"), max("cums").as("bs"),
            max("n").as("n"), max("stot").as("stot"))
          .select(col("k").as("decile"),
            (col("bc").cast("double") / col("n")).as("pop_share"),
            (col("bs").cast("double") / col("stot")).as("spend_share"))
          .orderBy("decile")
      })
    )

  override def oracle: Map[String, String] = Map(

    "q_hodges_lehmann" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v FROM events
        |  WHERE event_type IN ('click', 'view')),
        |h1 AS (SELECT v AS v1, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM e WHERE event_type = 'click' GROUP BY v),
        |h2 AS (SELECT v AS v2, CAST(COUNT(*) AS BIGINT) AS c2
        |  FROM e WHERE event_type = 'view' GROUP BY v),
        |dd AS (SELECT v2 - v1 AS diff,
        |    CAST(SUM(c1 * c2) AS BIGINT) AS w
        |  FROM h1 CROSS JOIN h2 GROUP BY 1),
        |c AS (SELECT diff, CAST(SUM(w) OVER (ORDER BY diff
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum FROM dd),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS np FROM dd)
        |SELECT np AS n_pairs,
        |  MIN(CASE WHEN cum * 2 >= np THEN diff END) AS hl_shift
        |FROM c CROSS JOIN t GROUP BY np""".stripMargin,

    "q_rank_biserial" ->
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t1
        |  FROM documents GROUP BY 1),
        |r AS (SELECT t, t1,
        |    2 * (CAST(SUM(t) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) - t) + t + 1 AS mr2
        |  FROM h),
        |a AS (SELECT CAST(SUM(t1) AS BIGINT) AS n1,
        |    CAST(SUM(t - t1) AS BIGINT) AS n2,
        |    CAST(SUM(t1 * mr2) AS BIGINT) AS r2x
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(r2x - n1 * (n1 + 1) AS DOUBLE)
        |      / CAST(n1 * n2 AS DOUBLE) - 1.0 END AS rank_biserial
        |FROM a""".stripMargin,

    "q_fleiss_kappa" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_returnflag AS cat
        |  FROM lineitem WHERE l_linenumber <= 4),
        |items AS (SELECT ok FROM li GROUP BY ok
        |          HAVING COUNT(*) = 4),
        |nij AS (SELECT ok, cat, CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM li JOIN items USING (ok) GROUP BY 1, 2),
        |gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(s2) AS BIGINT) AS ss2
        |  FROM (SELECT ok, SUM(nij * nij) AS s2 FROM nij GROUP BY 1)),
        |gc AS (SELECT CAST(SUM(gj * gj) AS BIGINT) AS sg2
        |  FROM (SELECT cat, CAST(SUM(nij) AS BIGINT) AS gj
        |        FROM nij GROUP BY 1))
        |SELECT n_items, CAST(4 AS BIGINT) AS m,
        |  CAST(ss2 - 4 * n_items AS DOUBLE)
        |    / (12.0 * CAST(n_items AS DOUBLE)) AS p_bar,
        |  CAST(sg2 AS DOUBLE)
        |    / (16.0 * CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))
        |    AS p_e,
        |  CASE WHEN CAST(sg2 AS DOUBLE)
        |      / (16.0 * CAST(n_items AS DOUBLE)
        |        * CAST(n_items AS DOUBLE)) <> 1.0 THEN
        |    (CAST(ss2 - 4 * n_items AS DOUBLE)
        |        / (12.0 * CAST(n_items AS DOUBLE))
        |      - CAST(sg2 AS DOUBLE)
        |        / (16.0 * CAST(n_items AS DOUBLE)
        |          * CAST(n_items AS DOUBLE)))
        |    / (1.0 - CAST(sg2 AS DOUBLE)
        |        / (16.0 * CAST(n_items AS DOUBLE)
        |          * CAST(n_items AS DOUBLE))) END AS kappa
        |FROM gt CROSS JOIN gc""".stripMargin,

    "q_mcc" ->
      """WITH e AS (SELECT label % 2 = 1 AS y,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000, 0)
        |      AS BIGINT) > 0 AS p
        |  FROM embeddings),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN y AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fp,
        |    CAST(SUM(CASE WHEN y AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fn,
        |    CAST(SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM e)
        |SELECT tp, fp, fn, tn,
        |  (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
        |  sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) *
        |    (tn + fn)) AS mcc
        |FROM c""".stripMargin,

    "q_cohens_kappa" ->
      """WITH e AS (SELECT
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000, 0)
        |      AS BIGINT) > 0 AS a,
        |    CAST(round(CAST(embedding[2] AS DOUBLE) * 1000, 0)
        |      AS BIGINT) > 0 AS b
        |  FROM embeddings),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS agree,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1
        |  FROM e)
        |SELECT n, agree,
        |  CAST(n * agree - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE) /
        |  CAST(n * n - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)
        |    AS kappa
        |FROM m""".stripMargin,

    "q_cohens_d" ->
      """WITH q AS (SELECT event_type = 'click' AS c,
        |    CAST(round(value, 0) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view')),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN c THEN v ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN c THEN v * v ELSE 0 END) AS BIGINT)
        |      AS q1,
        |    CAST(SUM(CASE WHEN NOT c THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN NOT c THEN v ELSE 0 END) AS BIGINT)
        |      AS s2,
        |    CAST(SUM(CASE WHEN NOT c THEN v * v ELSE 0 END) AS BIGINT)
        |      AS q2
        |  FROM q)
        |SELECT n1, n2,
        |  (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |    AS mean_diff,
        |  (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) /
        |  sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) +
        |        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)) /
        |       (n1 + n2 - 2)) AS cohens_d
        |FROM m""".stripMargin,

    "q_als_step" ->
      """WITH r AS (SELECT user_id, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS rij
        |  FROM events GROUP BY 1, 2),
        |v0 AS (SELECT event_type, CAST(SUM(rij) AS BIGINT) AS v0
        |  FROM r GROUP BY event_type),
        |vn AS (SELECT CAST(SUM(v0 * v0) AS BIGINT) AS vv FROM v0),
        |u AS (SELECT user_id,
        |    CAST(CAST(CAST(SUM(rij * v0) AS BIGINT) AS DOUBLE) / vv
        |      AS DECIMAL(18,4)) AS uq
        |  FROM r JOIN v0 USING (event_type) CROSS JOIN vn
        |  GROUP BY user_id, vv),
        |un AS (SELECT SUM(uq * uq) AS uu FROM u)
        |SELECT event_type, v0,
        |  CAST(SUM(CAST(rij AS DECIMAL(18,4)) * uq) AS DOUBLE) /
        |    CAST(MAX(uu) AS DOUBLE) AS v1
        |FROM r JOIN u USING (user_id) CROSS JOIN un JOIN v0
        |  USING (event_type)
        |GROUP BY event_type, v0 ORDER BY event_type""".stripMargin,

    "q_ips_eval" ->
      """WITH q AS (SELECT event_type,
        |    CAST(CAST(round(value, 0) AS BIGINT) > 50 AS BIGINT) AS r
        |  FROM events),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN r ELSE 0 END)
        |      AS BIGINT) AS rc,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN r ELSE 0 END)
        |      AS BIGINT) AS rv
        |  FROM q)
        |SELECT n, nc, nv,
        |  CAST(rc AS DOUBLE) / nc AS mean_r_click,
        |  CAST(rv AS DOUBLE) / nv AS mean_r_view,
        |  0.5 * (CAST(rc AS DOUBLE) / nc + CAST(rv AS DOUBLE) / nv)
        |    AS ips_value
        |FROM m""".stripMargin,

    "q_lorenz_deciles" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |bins AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM spend GROUP BY cents),
        |cum AS (SELECT cents, c,
        |    CAST(SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
        |    CAST(SUM(c * cents) OVER (ORDER BY cents ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cums
        |  FROM bins),
        |tot AS (SELECT MAX(cumc) AS n, MAX(cums) AS stot FROM cum),
        |g AS (SELECT k, MAX(cumc) AS bc, MAX(cums) AS bs,
        |    MAX(n) AS n, MAX(stot) AS stot
        |  FROM cum CROSS JOIN tot
        |  CROSS JOIN (SELECT unnest(range(1, 11)) AS k)
        |  WHERE cumc * 10 <= k * n GROUP BY k)
        |SELECT k AS decile,
        |  CAST(bc AS DOUBLE) / n AS pop_share,
        |  CAST(bs AS DOUBLE) / stot AS spend_share
        |FROM g ORDER BY decile""".stripMargin
  )
}

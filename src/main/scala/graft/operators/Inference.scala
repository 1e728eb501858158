package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Rank-based inference + release-gate statistics (round 8): the
  * nonparametric test family a data-quality team runs when distributions
  * are skewed enough that t-tests lie (Mann-Whitney U, Kruskal-Wallis,
  * Spearman), the robust Theil-Sen trend, the Brier-score decomposition,
  * and the ops/corpus readouts around them (multi-window SLO burn rate,
  * imputation audit, positional proximity search, reciprocal rank,
  * degree assortativity). All ten carry full DuckDB oracles.
  *
  * Determinism: every statistic reduces to exact int64 moments (tie-
  * scaled ×2 average ranks, cents-scaled balances, milli-unit scores)
  * and becomes floating-point only in a final fixed-shape expression
  * tree of divisions and sqrt (both correctly rounded IEEE — identical
  * on JVM and DuckDB). Cross-bin/group double sums go through
  * DECIMAL(18,4) so accumulation order cannot matter.
  *
  * Scale notes are per-query; the common shape is: one corpus-sized
  * keyed aggregate (map-side combinable) down to a value-histogram /
  * time-grid / group relation that is small forever, then windows and
  * broadcasts over that.
  */
object Inference extends QueryModule {

  /** 2× the average (midrank) of every row in a value-histogram bin:
    * bins carry counts, the window is the exclusive prefix count, and
    * 2·avgrank = 2·prev + t + 1 stays exact int64.
    */
  private def midrank2(prev: Column, t: Column): Column =
    lit(2L) * prev + t + lit(1L)

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- Cochran's Q (round 15): the k-treatment generalization of
      // McNemar — k=3 related binary outcomes per block, here the
      // first three lines of every ≥3-line order with outcome
      // "bulk line" (quantity ≥ 25), asking whether line position
      // shifts the bulk rate within orders. Q = (k−1)(kΣG_j² − T²) /
      // (kT − ΣL_i²) from exact int64 row/column moments (T = ΣL_i =
      // ΣG_j ≤ 3N — T² overflows int64 past N ~ 1e9 blocks; a fleet
      // recast rides DECIMAL(38,0), same two aggregates). One shuffle
      // on orderkey; the 3-row column-total aggregate and the block
      // moments cross-combine as 1-row broadcasts. ---
      "q_cochran_q" -> ((s, d) => {
        val li = table(s, d, "lineitem")
          .filter(col("l_linenumber") <= 3)
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("j"),
            (col("l_quantity") >= 25).cast("long").as("x"))
        // blocks: orders carrying all three treatments (exactly the
        // ≤3-line slice rows counted per order).
        val blocks = li.groupBy("ok")
          .agg(count(lit(1)).as("c"), sum("x").as("l"))
          .filter(col("c") === 3)
        val rowsM = blocks.agg(count(lit(1)).as("n_blocks"),
          sum("l").cast("long").as("t"),
          sum(col("l") * col("l")).cast("long").as("sl2"))
        val colsM = li.join(blocks.select("ok"), "ok")
          .groupBy("j").agg(sum("x").cast("long").as("gj"))
          .agg(sum(col("gj") * col("gj")).cast("long").as("sg2"))
        // Zero-guard (round-16, ADVICE): kT − ΣL² = 0 when every block
        // is unanimous; Spark's non-ANSI x/0 yields NULL while DuckDB's
        // IEEE division yields ±inf/NaN, so the degenerate corpus would
        // hash-mismatch without the explicit guard (both engines emit
        // NULL under the unmatched WHEN/CASE).
        rowsM.crossJoin(broadcast(colsM))
          .select(col("n_blocks"), lit(3L).as("k"), col("t"),
            when(lit(3L) * col("t") - col("sl2") =!= 0L,
              (lit(2L) * (lit(3L) * col("sg2") - col("t") * col("t")))
                .cast("double")
                / (lit(3L) * col("t") - col("sl2")).cast("double"))
              .as("q_stat"))
      }),

      // --- Bowker's symmetry test (round 15): the k×k generalization
      // of McNemar — do two 3-class labelers (md5-derived, same device
      // as q_mcnemar) disagree SYMMETRICALLY, i.e. is the off-diagonal
      // confusion n_ij ≈ n_ji for every class pair? χ² = Σ_{i<j}
      // (n_ij − n_ji)²/(n_ij + n_ji). Each unordered pair's term
      // quantizes exactly: (diff²·1e6) div tot int64 (diff ≤ corpus
      // size, so diff²·1e6 holds to ~3e6 docs; fleet recast =
      // DECIMAL(38,0)), summed before ONE terminal division — no FP Σ
      // reaches the hash. A direction missing WITHIN an observed pair
      // contributes via the conditional sums (its 0 count is real),
      // but a class pair with NO observed disagreement at all drops
      // out of the census entirely, so the reported `df` is the count
      // of non-empty off-diagonal pairs — ≤ the textbook k(k−1)/2 = 3
      // (round-16, ADVICE: documented deliberately; emitting the fixed
      // 3 would claim χ² df for terms that contributed nothing). One
      // map-side census aggregate, O(k²) cells, 1-row out. ---
      "q_bowker" -> ((s, d) => {
        val h = md5(col("doc_id").cast("string"))
        def cls(c: org.apache.spark.sql.Column) =
          when(c <= "4", "x").when(c <= "a", "y").otherwise("z")
        val t = table(s, d, "documents")
          .select(cls(substring(h, 1, 1)).as("la"),
            cls(substring(h, 2, 1)).as("lb"))
          .filter(col("la") =!= col("lb"))
          .select(least(col("la"), col("lb")).as("i"),
            greatest(col("la"), col("lb")).as("j"),
            (col("la") < col("lb")).cast("long").as("fwd"))
        val cells = t.groupBy("i", "j")
          .agg(sum("fwd").as("nf"),
            sum(lit(1L) - col("fwd")).as("nr"))
          .filter(col("nf") + col("nr") > 0)
          .select(col("i"), col("j"),
            expr("((nf - nr) * (nf - nr) * 1000000) div (nf + nr)")
              .as("t1e6"))
        cells.agg(count(lit(1)).cast("long").as("df"),
            sum("t1e6").cast("long").as("st"))
          .select(col("df"),
            (col("st").cast("double") / 1e6).as("bowker_chi2"))
      }),

      // --- Cochran-Armitage trend test (round 16): does the bulk-line
      // rate (quantity ≥ 25) trend MONOTONICALLY with line position —
      // the ordered-proportions companion to q_cochran_q (which asks
      // only "any difference"). Scores t = 1..3 on the ≤3-line slice;
      // everything scales through N so the moments stay exact int64:
      // T' = N·T = Σ t(a_k·N − n_k·A) and S = N·Σt²n − (Σtn)², giving
      // χ² = T'²·N / (A·(N−A)·S) in ONE fixed FP tree (T'² leaves
      // int64 range, so only the terminal assembly is double); the
      // degenerate margins (A = 0, A = N, S = 0) guard to NULL on
      // both engines. One map-side aggregate to 3 rows, 1-row out. ---
      "q_cochran_armitage" -> ((s, d) => {
        val g = table(s, d, "lineitem")
          .filter(col("l_linenumber") <= 3)
          .groupBy(col("l_linenumber").cast("long").as("t"))
          .agg(count(lit(1)).as("nk"),
            sum((col("l_quantity") >= 25).cast("long")).as("ak"))
        val tot = g.agg(sum("nk").cast("long").as("nn"),
          sum("ak").cast("long").as("aa"))
        val x = g.crossJoin(broadcast(tot))
          .agg(max("nn").as("nn"), max("aa").as("aa"),
            sum(col("t") * (col("ak") * col("nn")
              - col("nk") * col("aa"))).cast("long").as("tp"),
            sum(col("t") * col("t") * col("nk")).cast("long")
              .as("st2n"),
            sum(col("t") * col("nk")).cast("long").as("stn"))
          .withColumn("s2",
            col("nn") * col("st2n") - col("stn") * col("stn"))
        val chi2 = when(col("aa") > 0 && col("aa") < col("nn") &&
          col("s2") > 0,
          col("tp").cast("double") * col("tp").cast("double")
            * col("nn").cast("double")
            / (col("aa").cast("double")
              * (col("nn") - col("aa")).cast("double")
              * col("s2").cast("double")))
        x.select(col("nn").as("n"), col("aa").as("n_bulk"),
          col("tp").as("t_num"), chi2.as("ca_chi2"),
          (signum(col("tp").cast("double")) * sqrt(chi2)).as("ca_z"))
      }),

      // --- τ_AP rank correlation (round 16): the top-weighted Kendall
      // variant (Yilmaz/Aslam/Robertson) between the revenue and
      // quantity rankings of the top-50 parts — the metric that
      // answers "do the two orderings agree WHERE IT MATTERS (at the
      // top)" where plain τ (q_kendall_tau) weights all positions
      // equally. Concordance counts come from the bounded 50×50
      // rank-pair join (both relations are TakeOrdered top-k, never
      // corpus-sized); each position's C_i/(i−1) quantizes to an exact
      // int64 micro-ratio BEFORE the cross-position sum (the house
      // quantize-before-Σ rule), leaving ONE terminal FP assembly. ---
      "q_rank_tau_ap" -> ((s, d) => {
        val pm = table(s, d, "lineitem")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
            .cast("long").as("rev"),
            sum(expr("CAST(round(l_quantity, 0) AS BIGINT)"))
              .cast("long").as("qty"))
        val top = pm.orderBy(col("rev").desc, col("pk")).limit(50)
        val r = top
          .withColumn("tr", row_number()
            .over(Window.orderBy(col("rev").desc, col("pk"))).cast("long"))
          .withColumn("sr", row_number()
            .over(Window.orderBy(col("qty").desc, col("pk"))).cast("long"))
        val a = r.select(col("sr").as("si"), col("tr").as("ti"))
        val b = r.select(col("sr").as("sj"), col("tr").as("tj"))
        val conc = a.join(b, col("sj") < col("si"))
          .groupBy("si")
          .agg(sum((col("tj") < col("ti")).cast("long")).as("ci"))
        conc.select(expr("ci * 1000000 div (si - 1)").as("cpm"))
          .agg(sum("cpm").cast("long").as("scpm"))
          .crossJoin(broadcast(r.agg(count(lit(1)).as("n_items"))))
          .select(col("n_items"),
            (lit(2.0) * col("scpm").cast("double")
              / (lit(1000000.0) * (col("n_items") - 1).cast("double"))
              - lit(1.0)).as("tau_ap"))
      }),

      // --- Mood's median test (round 16): the nonparametric k-group
      // location test at the OTHER end of the power/robustness
      // trade-off from q_kruskal_wallis — only above/below the grand
      // median enters, so arbitrarily heavy tails cannot move it. The
      // grand median is an exact integer order statistic off the value
      // histogram (cum·2 ≥ n banded cut, never a corpus sort); the
      // k×2 contingency χ² assembles per-group from exact int64
      // counts, each group's term a fixed IEEE tree quantized to
      // DECIMAL(18,4) before the O(groups) sum; the degenerate-margin
      // guard (all values on one side) spells NULL identically on
      // both engines. ---
      "q_mood_median" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type").as("et"),
            round(col("value"), 0).cast("long").as("v"))
        val hist = ev.groupBy("v").agg(count(lit(1)).as("c"))
        val wb = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val med = hist.withColumn("cum", sum("c").over(wb))
          .crossJoin(broadcast(
            ev.agg(count(lit(1)).cast("long").as("n"))))
          .agg(min(when(col("cum") * 2 >= col("n"), col("v")))
            .as("med"))
        val cells = ev.crossJoin(broadcast(med))
          .groupBy("et")
          .agg(count(lit(1)).as("ng"),
            sum((col("v") > col("med")).cast("long")).as("a"))
        val tot = cells.agg(sum("ng").cast("long").as("nn"),
          sum("a").cast("long").as("aa"),
          count(lit(1)).as("n_groups"))
        val x = cells.crossJoin(broadcast(tot))
        val ea = col("ng").cast("double") * col("aa").cast("double") /
          col("nn").cast("double")
        val eb = col("ng").cast("double") *
          (col("nn") - col("aa")).cast("double") /
          col("nn").cast("double")
        val da = col("a").cast("double") - ea
        val db = (col("ng") - col("a")).cast("double") - eb
        val term = when(col("aa") > 0 && col("aa") < col("nn"),
          da * da / ea + db * db / eb)
        x.select(col("n_groups"), col("nn"), dec(term).as("t"))
          .groupBy("n_groups", "nn")
          .agg(sum("t").cast("double").as("chi2"))
          .crossJoin(broadcast(med))
          .select(col("n_groups"), col("nn").as("n_total"),
            col("med").as("grand_med"), col("chi2"))
      }),

      // --- McNemar's test (round 15): paired comparison of two
      // classifiers on the SAME documents — the eval-table statistic
      // for "is model B actually better than model A" when both score
      // every item (a two-proportion z-test is wrong there; only the
      // DISAGREEMENT cells carry information). The two deterministic
      // "models" gate on independent md5 nibbles of doc_id (the
      // repo-standard stand-in for stored prediction columns; the
      // query shape — one conditional aggregate to the 2x2 table, the
      // statistic as a fixed expression over its four cells — is the
      // contract). chi2 = (b-c)^2/(b+c), exact int64 numerator, ONE
      // division; the zero-discordance guard mirrors in the oracle.
      // One map-side-combinable scan at any scale, 1-row output. ---
      "q_mcnemar" -> ((s, d) => {
        val h = md5(col("doc_id").cast("string"))
        val ca = substring(h, 1, 1) <= "7"
        val cb = substring(h, 2, 1) <= "7"
        table(s, d, "documents")
          .select(ca.as("ca"), cb.as("cb"))
          .agg(count(lit(1)).as("n"),
            sum((col("ca") && col("cb")).cast("long")).as("both_ok"),
            sum((col("ca") && !col("cb")).cast("long")).as("a_only"),
            sum((!col("ca") && col("cb")).cast("long")).as("b_only"),
            sum((!col("ca") && !col("cb")).cast("long")).as("neither"))
          .withColumn("mcnemar_chi2",
            when(col("a_only") + col("b_only") === 0L, lit(0.0))
              .otherwise(((col("a_only") - col("b_only"))
                * (col("a_only") - col("b_only"))).cast("double")
                / (col("a_only") + col("b_only"))))
      }),

      // --- paired SIGN test (round 13): did per-user activity rise in
      // the second half of the observation window? The nonparametric
      // sibling of the paired t-test — only the SIGN of each user's
      // (2nd-half − 1st-half) count enters, so the statistic is exact
      // integer counting + one sqrt: z = (pos − neg)/sqrt(pos + neg),
      // ties dropped (the classic treatment). One user-keyed
      // conditional aggregate over the split day, one scalar rollup —
      // scan + two bounded shuffles at any scale. ---
      "q_sign_test" -> ((s, d) => {
        val mid = 15L
        val per = table(s, d, "events")
          .select(col("user_id"),
            (datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")).cast("long") >= mid)
              .cast("long").as("h2"))
          .groupBy("user_id")
          .agg(sum(col("h2")).as("n2"),
            sum(lit(1L) - col("h2")).as("n1"))
        per.agg(
            sum(when(col("n2") > col("n1"), 1L).otherwise(0L))
              .cast("long").as("n_pos"),
            sum(when(col("n2") < col("n1"), 1L).otherwise(0L))
              .cast("long").as("n_neg"),
            sum(when(col("n2") === col("n1"), 1L).otherwise(0L))
              .cast("long").as("n_tie"))
          .select(col("n_pos"), col("n_neg"), col("n_tie"),
            when(col("n_pos") + col("n_neg") > 0,
              (col("n_pos") - col("n_neg")).cast("double") /
                sqrt((col("n_pos") + col("n_neg")).cast("double")))
              .as("z"))
      }),

      // --- Mann-Whitney U (Wilcoxon rank-sum), click-arm vs view-arm
      // values, with tie-corrected normal approximation. The corpus
      // collapses to a value histogram in ONE conditional-count groupBy
      // (the q_ks_test shape); midranks come from an exclusive prefix
      // sum over the O(bins) histogram, scaled ×2 to stay integer, so
      // 2·R1 = Σ c1·(2·prev+t+1) and the tie term Σ(t³-t) are exact
      // int64 all the way. U, σ (one sqrt) and z are a fixed double
      // tree evaluated identically by both engines. ---
      "q_mannwhitney_u" -> ((s, d) => {
        val q = table(s, d, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"), round(col("value"), 0).cast("long").as("v"))
        val bins = q.groupBy("v").agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
          .withColumn("t", col("c1") + col("c2"))
        val wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        val a = bins
          .withColumn("prev", coalesce(sum("t").over(wp), lit(0L)))
          .agg(sum("c1").as("n1"), sum("c2").as("n2"),
            sum(col("c1") * midrank2(col("prev"), col("t"))).as("r2"),
            sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        val u2 = col("r2") - col("n1") * (col("n1") + lit(1L)) // = 2·U1
        val nn = col("n1") + col("n2")
        val sig = sqrt(col("n1").cast("double") * col("n2") *
          ((nn + lit(1L)).cast("double") -
            col("ties").cast("double") / (nn * (nn - lit(1L)))) / lit(12.0))
        a.select(col("n1"), col("n2"),
          (u2.cast("double") / lit(2.0)).as("u1"),
          ((u2 - col("n1") * col("n2")).cast("double") / (lit(2.0) * sig))
            .as("z"))
      }),

      // --- Kruskal-Wallis H across ALL event-type arms (the k-sample
      // generalization of the rank-sum test — the one-shot "did any arm
      // shift?" gate before pairwise drill-down). Cells (group×value
      // counts) and the value histogram both come off one corpus pass;
      // midranks ride the same ×2-integer prefix trick; per-group rank
      // sums are exact int64 via a broadcast of the O(bins) midrank
      // relation. The per-group term (R/N)²·... is one double each,
      // summed across the k=O(1) groups through DECIMAL(18,4); the tie
      // divisor uses N³ (fits int64 to ~2M rows per run — beyond that
      // the term is ties/(N³-N) → 0 and is dropped, as the comment in
      // the oracle notes). ---
      // --- Jonckheere-Terpstra ordered-alternative trend (round 16):
      // where q_kruskal_wallis asks "do the k groups differ at all",
      // JT asks the sharper ordered question — does order value climb
      // with priority (1-URGENT..5-LOW)? JT = Σ_{g<h} U_gh off the
      // dollar-value histogram pivoted per priority: a 2-d dominance
      // sum via per-group strictly-prior window cumulatives, with the
      // ×2 tie device (jt2 = 2·JT so half-credit ties stay integer —
      // the q_mannwhitney_u discipline). The window runs over the
      // bounded dollar domain (totalprice's range is fixed, so the
      // single-partition sort is calendar-sized at any SF). Null
      // moments: 4E = N²−Σn², Var = (N²(2N+3)−Σn²(2n+3))/72 assembled
      // in DECIMAL(38,0) (N³ overflows int64 past N≈2e6), stated
      // WITHOUT tie correction on both engines (documented); z is the
      // single terminal ÷/√ tree. One corpus pass. ---
      "q_jonckheere" -> ((s, d) => {
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val cells = table(s, d, "orders")
          .select(substring(col("o_orderpriority"), 1, 1).cast("long")
              .as("g"),
            round(col("o_totalprice"), 0).cast("long").as("v"))
        val cgs = (1 to 5).map(g =>
          sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c$g"))
        val piv = cells.groupBy("v").agg(cgs.head, cgs.tail: _*)
        val wp = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = (1 to 5).foldLeft(piv)((df, g) =>
          df.withColumn(s"l$g",
            coalesce(sum(col(s"c$g")).over(wp), lit(0L))))
        // 2·JT contribution at each value v: for every higher group h,
        // 2·c_h·(# lower-group values strictly below) + c_h·(ties in
        // lower groups at v).
        def below(h: Int): Column =
          (1 until h).map(g => col(s"l$g")).reduce(_ + _)
        def tiesAt(h: Int): Column =
          (1 until h).map(g => col(s"c$g")).reduce(_ + _)
        val contrib = (2 to 5).map(h =>
          lit(2L) * col(s"c$h") * below(h) + col(s"c$h") * tiesAt(h))
          .reduce(_ + _)
        val agg = cum.agg(sum(contrib).as("jt2"),
          (1 to 5).map(g => sum(col(s"c$g")).as(s"n$g")): _*)
        val nTot = (1 to 5).map(g => col(s"n$g")).reduce(_ + _)
        val sumSq = (1 to 5).map(g =>
          col(s"n$g").cast(d38) * col(s"n$g")).reduce(_ + _)
        val sumVar = (1 to 5).map(g =>
          col(s"n$g").cast(d38) * col(s"n$g")
            * (lit(2L) * col(s"n$g") + lit(3L))).reduce(_ + _)
        agg
          .withColumn("n", nTot)
          .withColumn("fourE", col("n").cast(d38) * col("n") - sumSq)
          .withColumn("varnum",
            col("n").cast(d38) * col("n")
              * (lit(2L) * col("n") + lit(3L)) - sumVar)
          .select(col("n").as("n_orders"),
            (col("jt2").cast("double") / 2.0).as("jt"),
            (col("fourE").cast("double") / 4.0).as("e_jt"),
            (col("varnum").cast("double") / 72.0).as("var_jt"),
            when(col("varnum") > 0,
              (lit(2L) * col("jt2") - col("fourE")).cast("double")
                / (lit(4.0)
                  * sqrt(col("varnum").cast("double") / 72.0)))
              .as("z"))
      }),

      "q_kruskal_wallis" -> ((s, d) => {
        val cells = table(s, d, "events")
          .select(col("event_type").as("g"),
            round(col("value"), 0).cast("long").as("v"))
          .groupBy("g", "v").agg(count(lit(1)).as("c"))
        val bins = cells.groupBy("v").agg(sum("c").as("t"))
        val wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        val rb = bins
          .withColumn("prev", coalesce(sum("t").over(wp), lit(0L)))
          .withColumn("a2", midrank2(col("prev"), col("t")))
        val tot = rb.agg(sum("t").as("n"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        val grp = cells
          .join(broadcast(rb.select("v", "a2")), "v")
          .groupBy("g").agg(sum("c").as("ng"),
            sum(col("c") * col("a2")).as("r2"))
        val m = col("r2").cast("double") / (lit(2L) * col("n"))
        grp.crossJoin(broadcast(tot))
          .select(col("ng"), col("n"), col("ties"),
            (m * m / col("ng")).as("term"))
          .agg(max("n").as("n"), count(lit(1)).as("k"),
            sum(dec(col("term"))).cast("double").as("sterm"),
            max("ties").as("ties"))
          .select(col("n"), col("k"),
            ((lit(12.0) * col("n") / (col("n") + lit(1L)) * col("sterm") -
              lit(3.0) * (col("n") + lit(1L))) /
              (lit(1.0) - col("ties").cast("double") /
                (col("n") * col("n") * col("n") - col("n")))).as("h_stat"))
      }),

      // --- Spearman rank correlation per market segment: customer
      // balance vs order count (does "richer on paper" rank-correlate
      // with "orders more"?). Midranks with ties use the ×2-integer
      // form 2·rank + cnt - 1 (two windows per variable, both keyed by
      // the segment — the rank shuffle is segment-partitioned and the
      // (seg,value) count window reuses that clustering). Spearman is
      // Pearson on the scaled ranks — scale-invariant — so the five
      // moments are exact int64 sums and ρ is one sqrt + one division.
      // (Int64 moments hold to ~10M rows/segment; past that the sums
      // move to DECIMAL(38,0) — same plan.) ---
      "q_spearman_corr" -> ((s, d) => {
        val cust = table(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100, 0).cast("long").as("x"))
        val ords = table(s, d, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("yc"))
        val base = cust
          .join(ords, cust("c_custkey") === ords("o_custkey"), "left")
          .select(col("seg"), col("x"), coalesce(col("yc"), lit(0L)).as("y"))
        def mid2(cn: String): Column =
          lit(2L) * rank().over(Window.partitionBy("seg").orderBy(cn)) +
            count(lit(1)).over(Window.partitionBy("seg", cn)) - lit(1L)
        base
          .withColumn("ax", mid2("x")).withColumn("ay", mid2("y"))
          .groupBy("seg").agg(count(lit(1)).as("n"),
            sum("ax").as("sa"), sum("ay").as("sb"),
            sum(col("ax") * col("ax")).as("saa"),
            sum(col("ay") * col("ay")).as("sbb"),
            sum(col("ax") * col("ay")).as("sab"))
          .select(col("seg"), col("n"),
            ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt((col("n") * col("saa") - col("sa") * col("sa"))
                .cast("double") *
                (col("n") * col("sbb") - col("sb") * col("sb"))
                  .cast("double"))).as("rho"))
          .orderBy("seg")
      }),

      // --- Theil-Sen robust trend per event type: the median of all
      // pairwise slopes of the daily-count series (immune to the
      // outlier days that wreck least-squares — the trend estimator a
      // volume monitor should actually alert on). The corpus reduces
      // to the O(types × days) daily grid first; the pair join is
      // time²-sized per series (bounded by the retention window, never
      // by corpus rows). The median picks the middle row(s) of the
      // slope order explicitly — position floor/ceil of (n+1)/2, then
      // a two-value mean — instead of an interpolating percentile, so
      // both engines average the SAME two doubles. ---
      "q_theilsen_trend" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .cast("long").as("day"))
          .agg(count(lit(1)).as("cnt"))
        val a = daily.select(col("event_type"), col("day").as("d1"),
          col("cnt").as("c1"))
        val b = daily.select(col("event_type"), col("day").as("d2"),
          col("cnt").as("c2"))
        val slopes = a.join(b, Seq("event_type"))
          .filter(col("d2") > col("d1"))
          .select(col("event_type"), col("d1"), col("d2"),
            ((col("c2") - col("c1")).cast("double") /
              (col("d2") - col("d1"))).as("slope"))
        val wr = Window.partitionBy("event_type")
          .orderBy(col("slope"), col("d1"), col("d2"))
        slopes
          .withColumn("rn", row_number().over(wr).cast("long"))
          .withColumn("np",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .filter(col("rn") === expr("(np + 1) div 2") ||
            col("rn") === expr("np div 2 + 1"))
          .groupBy("event_type")
          .agg(max("np").as("n_pairs"),
            (sum("slope") / count(lit(1))).as("slope_med"))
          .orderBy("event_type")
      }),

      // --- Brier-score decomposition (Murphy): reliability −
      // resolution + uncertainty over the q_calibration bin grid, plus
      // the direct Brier score from exact milli-unit integer moments
      // (Σp², Σp·o, Σo — one corpus pass, map-side combinable). The
      // per-bin terms n_k(p̄_k−ō_k)² are one double each and cross the
      // O(grid) bins through DECIMAL(18,4); every divisor is an exact
      // int64. The decomposition identity is the standard forecast-
      // quality readout (are we miscalibrated, or just unsharp?). ---
      "q_brier_decomp" -> ((s, d) => {
        val e = table(s, d, "embeddings")
          .select((col("label") % 2 === 1).cast("long").as("pos"),
            round(element_at(col("embedding"), 1).cast("double") * 1000, 0)
              .cast("long").as("sq"))
        val bins = e
          .groupBy(floor(col("sq") / 100.0).cast("long").as("bin"))
          .agg(count(lit(1)).as("nk"), sum("pos").as("ok"), sum("sq").as("sk"),
            sum(col("sq") * col("sq")).as("sqq"),
            sum(col("sq") * col("pos")).as("sqo"))
        val tot = bins.agg(sum("nk").as("n"), sum("ok").as("o"),
          sum("sqq").as("tqq"), sum("sqo").as("tqo"), sum("sk").as("tk"))
        val pk = col("sk").cast("double") / col("nk") / lit(1000.0)
        val okr = col("ok").cast("double") / col("nk")
        val obar = col("o").cast("double") / col("n")
        bins.crossJoin(broadcast(tot))
          .select(col("n"), col("o"), col("tqq"), col("tqo"), col("tk"),
            (col("nk") * (pk - okr) * (pk - okr)).as("t_rel"),
            (col("nk") * (okr - obar) * (okr - obar)).as("t_res"))
          .agg(max("n").as("n"), max("o").as("o"),
            max("tqq").as("tqq"), max("tqo").as("tqo"),
            sum(dec(col("t_rel"))).cast("double").as("srel"),
            sum(dec(col("t_res"))).cast("double").as("sres"))
          .select(col("n"),
            ((col("tqq") - lit(2000L) * col("tqo") + lit(1000000L) * col("o"))
              .cast("double") / (lit(1000000.0) * col("n"))).as("brier"),
            (col("srel") / col("n")).as("reliability"),
            (col("sres") / col("n")).as("resolution"),
            (obar * (lit(1.0) - obar)).as("uncertainty"))
      }),

      // --- positional proximity search: documents where "join" occurs
      // within 5 tokens of "hash" (the phrase-adjacent retrieval
      // operator between exact phrase match and bag-of-words). Posting
      // lists (doc, position) come from ONE tokenize pass; the A×B
      // pair join is keyed by doc_id (co-partitioned, never global)
      // and per-doc position lists are bounded by document length, so
      // the pair fan-out is per-doc occ_A·occ_B — the classic
      // positional-index intersection cost, independent of corpus
      // size. ---
      "q_proximity_search" -> ((s, d) => {
        val toks = table(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
            col("w"))
        val pa = toks.filter(col("w") === "join")
          .select(col("doc_id"), col("p").as("pa"))
        val pb = toks.filter(col("w") === "hash")
          .select(col("doc_id"), col("p").as("pb"))
        pa.join(pb, "doc_id")
          .groupBy("doc_id")
          .agg(min(abs(col("pa") - col("pb"))).as("min_dist"),
            count(lit(1)).as("n_pairs"))
          .filter(col("min_dist") <= 5)
          .orderBy("doc_id")
      }),

      // --- mean reciprocal rank of the exact-cosine neighbor ranking
      // (probe relevance = shared label, the q_ap_rank eval): MRR is
      // THE metric when only the first relevant hit matters (query
      // suggestion, known-item search). Same broadcast probe scan as
      // the AP eval; the first-relevant rank is a per-probe MIN over
      // the top-10 window, and MRR stays exact-integer via the
      // lcm(1..10)=2520 scaling until one final division. Probes with
      // no relevant in the top 10 contribute 0. ---
      // --- rank-biased precision @10 (round 15): Moffat/Zobel's
      // impatient-user metric over the same cosine ranking as
      // q_rank_mrr — RBP = (1−p)·Σ_k rel_k·p^(k−1) at p = 0.8, which
      // is EXACTLY rational: p^(k−1) = 8^(k−1)·10^(10−k)/10^9, so each
      // relevant hit contributes an exact integer weight and the
      // corpus-wide sum is int64 until one terminal scaling — no
      // pow(), no FP Σ. Same bounded probe set (10 probes), TakeOrdered
      // top-10 per probe. ---
      "q_rank_rbp" -> ((s, d) => {
        val p10 = Array.iterate(1L, 11)(_ * 10)
        val wts = (1 to 10).map(k =>
          BigInt(8).pow(k - 1).toLong * p10(10 - k))
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding").as("q"))
          .withColumn("nn", Similarity.dotQ(col("q"), col("q")))
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"),
            col("label").as("plabel"), col("q").as("pq"),
            col("nn").as("pn"))
        val scored = e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("plabel"),
            col("vec_id").as("cand_id"), col("label"),
            Similarity.cosQ(Similarity.dotQ(col("pq"), col("q")),
              col("pn"), col("nn")).as("cos"))
        val wr = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("cand_id").asc)
        val per = scored.withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 10 && col("label") === col("plabel"))
          .select(col("probe_id"),
            element_at(array(wts.map(lit): _*), col("rk")).as("w"))
          .groupBy("probe_id")
          .agg(sum("w").as("ws"), count(lit(1)).as("nrel"))
        probes.select("probe_id")
          .join(per, Seq("probe_id"), "left")
          .agg(count(lit(1)).as("n_probes"),
            sum(coalesce(col("nrel"), lit(0L))).cast("long").as("n_rel"),
            sum(coalesce(col("ws"), lit(0L))).cast("long").as("tws"))
          .select(col("n_probes"), col("n_rel"),
            (lit(0.2) * col("tws").cast("double")
              / (lit(1e9) * col("n_probes").cast("double")))
              .as("mean_rbp"))
      }),

      "q_rank_mrr" -> ((s, d) => {
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding").as("q"))
          .withColumn("nn", Similarity.dotQ(col("q"), col("q")))
        val probes = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
            col("q").as("pq"), col("nn").as("pn"))
        val scored = e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("plabel"),
            col("vec_id").as("cand_id"), col("label"),
            Similarity.cosQ(Similarity.dotQ(col("pq"), col("q")),
              col("pn"), col("nn")).as("cos"))
        val wr = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("cand_id").asc)
        val firstRel = scored
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 10 && col("label") === col("plabel"))
          .withColumn("rk", col("rk").cast("long"))
          .groupBy("probe_id").agg(min("rk").as("rk1"))
        probes.select("probe_id")
          .join(firstRel, Seq("probe_id"), "left")
          .agg(count(lit(1)).as("n_probes"),
            count(col("rk1")).as("n_hit"),
            sum(coalesce((lit(2520L) / col("rk1")).cast("long"), lit(0L)))
              .as("rrs"))
          .select(col("n_probes"), col("n_hit"),
            (col("rrs").cast("double") / (lit(2520.0) * col("n_probes")))
              .as("mrr"))
      }),

      // --- imputation audit per market segment: balances masked
      // missing by an md5 gate (the q_source_malformed trick — a
      // deterministic ~12.5%·2 missingness both engines reproduce),
      // then the median-impute readout every feature pipeline ships:
      // missing count, the imputation value, and the mean before/after.
      // The median picks the explicit middle row(s) of the present
      // cents (×2-scaled so even-count medians stay integer); the
      // imputed mean is exact int64 — (2·Σcents + miss·med2)/(2n) —
      // divided once. One corpus pass + one segment-keyed window. ---
      "q_impute_audit" -> ((s, d) => {
        val c = table(s, d, "customer")
          .select(col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100, 0).cast("long").as("cents"),
            substring(md5(concat(lit("na"), col("c_custkey").cast("string"))),
              1, 1).isin("0", "1").as("miss"))
        val present = c.filter(!col("miss"))
        val wr = Window.partitionBy("seg").orderBy(col("cents"))
        val med = present
          .withColumn("rn", row_number().over(wr).cast("long"))
          .withColumn("np", count(lit(1)).over(Window.partitionBy("seg")))
          .filter(col("rn") === expr("(np + 1) div 2") ||
            col("rn") === expr("np div 2 + 1"))
          .groupBy("seg")
          .agg(sum("cents").as("smid"), count(lit(1)).as("nmid"))
          .select(col("seg"), expr("smid * 2 div nmid").as("med2"))
        val stats = c.groupBy("seg").agg(count(lit(1)).as("n"),
          sum(col("miss").cast("long")).as("n_miss"),
          sum(when(!col("miss"), col("cents"))).as("scents"))
        stats.join(broadcast(med), "seg")
          .select(col("seg"), col("n"), col("n_miss"),
            (col("med2").cast("double") / lit(200.0)).as("median_bal"),
            (col("scents").cast("double") / (col("n") - col("n_miss")) /
              lit(100.0)).as("mean_present"),
            ((lit(2L) * col("scents") + col("n_miss") * col("med2"))
              .cast("double") / (lit(2L) * col("n")) / lit(100.0))
              .as("mean_imputed"))
          .orderBy("seg")
      }),

      // --- degree assortativity of the word bigram graph: Pearson
      // correlation of (out-degree(src), out-degree(dst)) across
      // edges — positive means hubs link hubs (the one-number texture
      // statistic that predicts whether degree-based partitioning will
      // skew). Degrees are a vocabulary-sized aggregate broadcast back
      // onto the edge list; the five moments are exact int64 sums and
      // ρ is the same fixed sqrt/division tree as Spearman's. ---
      "q_assortativity" -> ((s, d) => {
        val e = Relevance.wordEdges(s, d).select("src", "dst")
        val deg = e.groupBy("src").agg(countDistinct("dst").as("deg"))
        val dj = e
          .join(broadcast(deg.select(col("src"), col("deg").as("dx"))), "src")
          .join(broadcast(deg.select(col("src").as("dst"),
            col("deg").as("dy"))), "dst")
        dj.agg(count(lit(1)).as("n"),
            sum("dx").as("sa"), sum("dy").as("sb"),
            sum(col("dx") * col("dx")).as("saa"),
            sum(col("dy") * col("dy")).as("sbb"),
            sum(col("dx") * col("dy")).as("sab"))
          .select(col("n"),
            ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt((col("n") * col("saa") - col("sa") * col("sa"))
                .cast("double") *
                (col("n") * col("sbb") - col("sb") * col("sb"))
                  .cast("double"))).as("rho"))
      }),

      // --- multi-window SLO burn rate (the SRE alert that pages on
      // "fast AND sustained" instead of one noisy spike): per-hour
      // error share vs a 25% error budget, the 1h window against the
      // trailing-6h RANGE window (range, not rows — missing hours must
      // not stretch the lookback), alert = fast burn ≥ 2× AND slow
      // burn ≥ 1×. The corpus collapses to the O(hours) grid in one
      // conditional-count pass; the window runs over the time grid,
      // never over events. ---
      "q_burn_rate" -> ((s, d) => {
        val hours = table(s, d, "events")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("n"),
            sum((col("event_type") === "error").cast("long")).as("err"))
        val w6 = Window.orderBy("hr").rangeBetween(-5, 0)
        val fast = col("err").cast("double") / col("n") / lit(0.25)
        val slow = col("err6").cast("double") / col("n6") / lit(0.25)
        hours
          .withColumn("err6", sum("err").over(w6))
          .withColumn("n6", sum("n").over(w6))
          .select(col("hr"), col("n"), col("err"),
            fast.as("burn_1h"), slow.as("burn_6h"),
            (fast >= 2.0 && slow >= 1.0).cast("long").as("alert"))
          .orderBy("hr")
      })
    )

  override def oracle: Map[String, String] = Map(

    "q_bowker" ->
      """WITH t0 AS (SELECT
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |t AS (SELECT
        |    CASE WHEN substring(h, 1, 1) <= '4' THEN 'x'
        |         WHEN substring(h, 1, 1) <= 'a' THEN 'y'
        |         ELSE 'z' END AS la,
        |    CASE WHEN substring(h, 2, 1) <= '4' THEN 'x'
        |         WHEN substring(h, 2, 1) <= 'a' THEN 'y'
        |         ELSE 'z' END AS lb
        |  FROM t0),
        |c AS (SELECT LEAST(la, lb) AS i, GREATEST(la, lb) AS j,
        |    CAST(SUM(CASE WHEN la < lb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nf,
        |    CAST(SUM(CASE WHEN la > lb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nr
        |  FROM t WHERE la <> lb GROUP BY 1, 2),
        |cl AS (SELECT i, j,
        |    ((nf - nr) * (nf - nr) * 1000000) // (nf + nr) AS t1e6
        |  FROM c WHERE nf + nr > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(CAST(SUM(t1e6) AS BIGINT) AS DOUBLE) / 1e6
        |    AS bowker_chi2
        |FROM cl""".stripMargin,

    "q_cochran_q" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS j,
        |    CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS x
        |  FROM lineitem WHERE l_linenumber <= 3),
        |blocks AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(x) AS BIGINT) AS l
        |  FROM li GROUP BY 1 HAVING COUNT(*) = 3),
        |rm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(l) AS BIGINT) AS t,
        |    CAST(SUM(l * l) AS BIGINT) AS sl2 FROM blocks),
        |cm AS (SELECT CAST(SUM(gj * gj) AS BIGINT) AS sg2
        |  FROM (SELECT j, CAST(SUM(x) AS BIGINT) AS gj
        |        FROM li JOIN blocks USING (ok) GROUP BY 1))
        |SELECT n_blocks, CAST(3 AS BIGINT) AS k, t,
        |  CASE WHEN 3 * t - sl2 <> 0 THEN
        |    CAST(2 * (3 * sg2 - t * t) AS DOUBLE)
        |      / CAST(3 * t - sl2 AS DOUBLE) END AS q_stat
        |FROM rm CROSS JOIN cm""".stripMargin,

    "q_cochran_armitage" ->
      """WITH g AS (SELECT CAST(l_linenumber AS BIGINT) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ak
        |  FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS nn,
        |    CAST(SUM(ak) AS BIGINT) AS aa FROM g),
        |x AS (SELECT MAX(nn) AS nn, MAX(aa) AS aa,
        |    CAST(SUM(t * (ak * nn - nk * aa)) AS BIGINT) AS tp,
        |    CAST(SUM(t * t * nk) AS BIGINT) AS st2n,
        |    CAST(SUM(t * nk) AS BIGINT) AS stn
        |  FROM g CROSS JOIN tot),
        |y AS (SELECT nn, aa, tp, nn * st2n - stn * stn AS s2 FROM x),
        |z AS (SELECT nn, aa, tp,
        |    CASE WHEN aa > 0 AND aa < nn AND s2 > 0 THEN
        |      CAST(tp AS DOUBLE) * CAST(tp AS DOUBLE)
        |        * CAST(nn AS DOUBLE)
        |        / (CAST(aa AS DOUBLE) * CAST(nn - aa AS DOUBLE)
        |          * CAST(s2 AS DOUBLE)) END AS ca_chi2
        |  FROM y)
        |SELECT nn AS n, aa AS n_bulk, tp AS t_num, ca_chi2,
        |  CAST(SIGN(CAST(tp AS DOUBLE)) AS DOUBLE) * sqrt(ca_chi2)
        |    AS ca_z
        |FROM z""".stripMargin,

    "q_rank_tau_ap" ->
      """WITH pm AS (SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
        |      AS qty
        |  FROM lineitem GROUP BY 1),
        |top AS (SELECT * FROM pm ORDER BY rev DESC, pk LIMIT 50),
        |r AS (SELECT pk,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, pk) AS BIGINT)
        |      AS tr,
        |    CAST(ROW_NUMBER() OVER (ORDER BY qty DESC, pk) AS BIGINT)
        |      AS sr
        |  FROM top),
        |conc AS (SELECT a.sr AS si,
        |    CAST(SUM(CASE WHEN b.tr < a.tr THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ci
        |  FROM r a JOIN r b ON b.sr < a.sr GROUP BY 1),
        |agg AS (SELECT CAST(SUM(ci * 1000000 // (si - 1)) AS BIGINT)
        |    AS scpm FROM conc),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM r)
        |SELECT n_items,
        |  2.0 * CAST(scpm AS DOUBLE)
        |    / (1000000.0 * CAST(n_items - 1 AS DOUBLE)) - 1.0 AS tau_ap
        |FROM agg CROSS JOIN n""".stripMargin,

    "q_mood_median" ->
      """WITH ev AS (SELECT event_type AS et,
        |    CAST(round(value, 0) AS BIGINT) AS v FROM events),
        |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
        |med AS (SELECT MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
        |  FROM (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum FROM h) CROSS JOIN nt),
        |cells AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a
        |  FROM ev CROSS JOIN med GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn,
        |    CAST(SUM(a) AS BIGINT) AS aa,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups FROM cells),
        |x AS (SELECT n_groups, nn,
        |    CAST(CASE WHEN aa > 0 AND aa < nn THEN
        |      (CAST(a AS DOUBLE) - CAST(ng AS DOUBLE)
        |          * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(a AS DOUBLE) - CAST(ng AS DOUBLE)
        |          * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / (CAST(ng AS DOUBLE) * CAST(aa AS DOUBLE)
        |          / CAST(nn AS DOUBLE))
        |      + (CAST(ng - a AS DOUBLE) - CAST(ng AS DOUBLE)
        |          * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(ng - a AS DOUBLE) - CAST(ng AS DOUBLE)
        |          * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / (CAST(ng AS DOUBLE) * CAST(nn - aa AS DOUBLE)
        |          / CAST(nn AS DOUBLE)) END AS DECIMAL(18,4)) AS t
        |  FROM cells CROSS JOIN tot)
        |SELECT n_groups, nn AS n_total,
        |  (SELECT med FROM med) AS grand_med,
        |  CAST(SUM(t) AS DOUBLE) AS chi2
        |FROM x GROUP BY n_groups, nn""".stripMargin,

    "q_mcnemar" ->
      """WITH t AS (SELECT
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' AS ca,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) <= '7' AS cb
        |  FROM documents),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS both_ok,
        |    CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_only,
        |    CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only,
        |    CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS neither
        |  FROM t)
        |SELECT n, both_ok, a_only, b_only, neither,
        |  CASE WHEN a_only + b_only = 0 THEN 0.0
        |    ELSE CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE)
        |      / (a_only + b_only) END AS mcnemar_chi2
        |FROM c""".stripMargin,

    "q_sign_test" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) >= 15 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) >= 15 THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n1
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN n2 > n1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos,
        |    CAST(SUM(CASE WHEN n2 < n1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neg,
        |    CAST(SUM(CASE WHEN n2 = n1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_tie
        |  FROM per)
        |SELECT n_pos, n_neg, n_tie,
        |  CASE WHEN n_pos + n_neg > 0 THEN
        |    CAST(n_pos - n_neg AS DOUBLE) /
        |      sqrt(CAST(n_pos + n_neg AS DOUBLE)) END AS z
        |FROM c""".stripMargin,

    "q_mannwhitney_u" ->
      """WITH q AS (SELECT event_type, CAST(round(value, 0) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view')),
        |b AS (SELECT v,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2
        |  FROM q GROUP BY v),
        |r AS (SELECT c1, c2, c1 + c2 AS t,
        |    COALESCE(CAST(SUM(c1 + c2) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev
        |  FROM b),
        |a AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * prev + t + 1)) AS BIGINT) AS r2,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(r2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  CAST((r2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE) /
        |    (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE) -
        |       CAST(ties AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1))) / 12.0))
        |    AS z
        |FROM a""".stripMargin,

    "q_jonckheere" ->
      """WITH c AS (SELECT
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
        |    CAST(round(o_totalprice, 0) AS BIGINT) AS v FROM orders),
        |p AS (SELECT v,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
        |  FROM c GROUP BY v),
        |w AS (SELECT c1, c2, c3, c4, c5,
        |    COALESCE(CAST(SUM(c1) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS l1,
        |    COALESCE(CAST(SUM(c2) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS l2,
        |    COALESCE(CAST(SUM(c3) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS l3,
        |    COALESCE(CAST(SUM(c4) OVER (ORDER BY v ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS l4
        |  FROM p),
        |a AS (SELECT
        |    CAST(SUM(2 * c2 * l1 + c2 * c1
        |      + 2 * c3 * (l1 + l2) + c3 * (c1 + c2)
        |      + 2 * c4 * (l1 + l2 + l3) + c4 * (c1 + c2 + c3)
        |      + 2 * c5 * (l1 + l2 + l3 + l4)
        |      + c5 * (c1 + c2 + c3 + c4)) AS BIGINT) AS jt2,
        |    CAST(SUM(c1) AS HUGEINT) AS n1,
        |    CAST(SUM(c2) AS HUGEINT) AS n2,
        |    CAST(SUM(c3) AS HUGEINT) AS n3,
        |    CAST(SUM(c4) AS HUGEINT) AS n4,
        |    CAST(SUM(c5) AS HUGEINT) AS n5
        |  FROM w),
        |m AS (SELECT jt2, n1 + n2 + n3 + n4 + n5 AS n,
        |    (n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)
        |      - (n1 * n1 + n2 * n2 + n3 * n3 + n4 * n4 + n5 * n5)
        |      AS foure,
        |    (n1 + n2 + n3 + n4 + n5) * (n1 + n2 + n3 + n4 + n5)
        |      * (2 * (n1 + n2 + n3 + n4 + n5) + 3)
        |      - (n1 * n1 * (2 * n1 + 3) + n2 * n2 * (2 * n2 + 3)
        |        + n3 * n3 * (2 * n3 + 3) + n4 * n4 * (2 * n4 + 3)
        |        + n5 * n5 * (2 * n5 + 3)) AS varnum
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n_orders,
        |  CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |  CAST(foure AS DOUBLE) / 4.0 AS e_jt,
        |  CAST(varnum AS DOUBLE) / 72.0 AS var_jt,
        |  CASE WHEN varnum > 0 THEN
        |    CAST(2 * jt2 - foure AS DOUBLE)
        |      / (4.0 * sqrt(CAST(varnum AS DOUBLE) / 72.0)) END AS z
        |FROM m""".stripMargin,

    "q_kruskal_wallis" ->
      """WITH cells AS (SELECT event_type AS g,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY v),
        |rb AS (SELECT v, t,
        |    COALESCE(CAST(SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev
        |  FROM b),
        |rb2 AS (SELECT v, 2 * prev + t + 1 AS a2 FROM rb),
        |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties FROM b),
        |grp AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
        |    CAST(SUM(c * a2) AS BIGINT) AS r2
        |  FROM cells JOIN rb2 USING (v) GROUP BY g),
        |terms AS (SELECT ng, n, ties,
        |    (CAST(r2 AS DOUBLE) / (2 * n)) * (CAST(r2 AS DOUBLE) / (2 * n))
        |      / ng AS term
        |  FROM grp CROSS JOIN tot),
        |agg AS (SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(CAST(term AS DECIMAL(18,4))) AS DOUBLE) AS sterm,
        |    MAX(ties) AS ties
        |  FROM terms)
        |SELECT n, k,
        |  (12.0 * n / (n + 1) * sterm - 3.0 * (n + 1)) /
        |    (1.0 - CAST(ties AS DOUBLE) / (n * n * n - n)) AS h_stat
        |FROM agg""".stripMargin,

    "q_spearman_corr" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
        |  FROM customer),
        |oc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS yc
        |  FROM orders GROUP BY 1),
        |base AS (SELECT seg, x, COALESCE(yc, 0) AS y
        |  FROM cust LEFT JOIN oc ON c_custkey = o_custkey),
        |rk AS (SELECT seg,
        |    2 * rank() OVER (PARTITION BY seg ORDER BY x) +
        |      COUNT(*) OVER (PARTITION BY seg, x) - 1 AS ax,
        |    2 * rank() OVER (PARTITION BY seg ORDER BY y) +
        |      COUNT(*) OVER (PARTITION BY seg, y) - 1 AS ay
        |  FROM base),
        |m AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(ax) AS BIGINT) AS sa, CAST(SUM(ay) AS BIGINT) AS sb,
        |    CAST(SUM(ax * ax) AS BIGINT) AS saa,
        |    CAST(SUM(ay * ay) AS BIGINT) AS sbb,
        |    CAST(SUM(ax * ay) AS BIGINT) AS sab
        |  FROM rk GROUP BY seg)
        |SELECT seg, n,
        |  CAST(n * sab - sa * sb AS DOUBLE) /
        |    sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
        |         CAST(n * sbb - sb * sb AS DOUBLE)) AS rho
        |FROM m ORDER BY seg""".stripMargin,

    "q_theilsen_trend" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / (b.day - a.day) AS slope
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND b.day > a.day),
        |r AS (SELECT event_type, slope,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope, d1, d2) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
        |  FROM p)
        |SELECT event_type, MAX(np) AS n_pairs,
        |  SUM(slope) / COUNT(*) AS slope_med
        |FROM r
        |WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_brier_decomp" ->
      """WITH e AS (SELECT
        |    CAST(label % 2 = 1 AS BIGINT) AS pos,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000, 0) AS BIGINT)
        |      AS sq
        |  FROM embeddings),
        |bins AS (SELECT CAST(floor(sq / 100.0) AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nk, CAST(SUM(pos) AS BIGINT) AS ok,
        |    CAST(SUM(sq) AS BIGINT) AS sk,
        |    CAST(SUM(sq * sq) AS BIGINT) AS sqq,
        |    CAST(SUM(sq * pos) AS BIGINT) AS sqo
        |  FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n,
        |    CAST(SUM(ok) AS BIGINT) AS o, CAST(SUM(sqq) AS BIGINT) AS tqq,
        |    CAST(SUM(sqo) AS BIGINT) AS tqo FROM bins),
        |terms AS (SELECT n, o, tqq, tqo,
        |    nk * (CAST(sk AS DOUBLE) / nk / 1000.0 -
        |          CAST(ok AS DOUBLE) / nk) *
        |         (CAST(sk AS DOUBLE) / nk / 1000.0 -
        |          CAST(ok AS DOUBLE) / nk) AS t_rel,
        |    nk * (CAST(ok AS DOUBLE) / nk - CAST(o AS DOUBLE) / n) *
        |         (CAST(ok AS DOUBLE) / nk - CAST(o AS DOUBLE) / n) AS t_res
        |  FROM bins CROSS JOIN tot),
        |agg AS (SELECT MAX(n) AS n, MAX(o) AS o, MAX(tqq) AS tqq,
        |    MAX(tqo) AS tqo,
        |    CAST(SUM(CAST(t_rel AS DECIMAL(18,4))) AS DOUBLE) AS srel,
        |    CAST(SUM(CAST(t_res AS DECIMAL(18,4))) AS DOUBLE) AS sres
        |  FROM terms)
        |SELECT n,
        |  CAST(tqq - 2000 * tqo + 1000000 * o AS DOUBLE) /
        |    (1000000.0 * n) AS brier,
        |  srel / n AS reliability,
        |  sres / n AS resolution,
        |  (CAST(o AS DOUBLE) / n) * (1.0 - CAST(o AS DOUBLE) / n)
        |    AS uncertainty
        |FROM agg""".stripMargin,

    "q_proximity_search" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
        |      AS p
        |  FROM documents),
        |pa AS (SELECT doc_id, p AS pa FROM t WHERE w = 'join'),
        |pb AS (SELECT doc_id, p AS pb FROM t WHERE w = 'hash')
        |SELECT doc_id, MIN(abs(pa - pb)) AS min_dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pa JOIN pb USING (doc_id)
        |GROUP BY doc_id HAVING MIN(abs(pa - pb)) <= 5
        |ORDER BY doc_id""".stripMargin,

    "q_rank_rbp" ->
      s"""WITH q AS (SELECT vec_id, label, ${Similarity.qSql} AS qv
         |           FROM embeddings),
         |x AS (SELECT vec_id, label, generate_subscripts(qv, 1) AS i,
         |        unnest(qv) AS v FROM q),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY 1),
         |dot AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |          SUM(p.v * c.v) AS d
         |        FROM x p JOIN x c
         |          ON p.i = c.i AND p.vec_id < 10
         |         AND c.vec_id <> p.vec_id
         |        GROUP BY 1, 2),
         |lab AS (SELECT vec_id, label FROM q),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |           sqrt(CAST(nc.nn AS DOUBLE))) AS cos,
         |         lp.label AS plabel, lc.label AS clabel
         |       FROM dot
         |         JOIN n np ON np.vec_id = probe_id
         |         JOIN n nc ON nc.vec_id = cand_id
         |         JOIN lab lp ON lp.vec_id = probe_id
         |         JOIN lab lc ON lc.vec_id = cand_id),
         |r AS (SELECT probe_id,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |          ORDER BY cos DESC, cand_id) AS BIGINT) AS rk,
         |        clabel = plabel AS rel
         |      FROM sc),
         |wv AS (SELECT probe_id,
         |         CASE rk WHEN 1 THEN 1000000000 WHEN 2 THEN 800000000
         |           WHEN 3 THEN 640000000 WHEN 4 THEN 512000000
         |           WHEN 5 THEN 409600000 WHEN 6 THEN 327680000
         |           WHEN 7 THEN 262144000 WHEN 8 THEN 209715200
         |           WHEN 9 THEN 167772160 ELSE 134217728 END AS w
         |       FROM r WHERE rk <= 10 AND rel),
         |pp AS (SELECT probe_id, CAST(SUM(w) AS BIGINT) AS ws,
         |         CAST(COUNT(*) AS BIGINT) AS nrel
         |       FROM wv GROUP BY 1),
         |pr AS (SELECT DISTINCT vec_id AS probe_id FROM q
         |       WHERE vec_id < 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         |  CAST(SUM(COALESCE(nrel, 0)) AS BIGINT) AS n_rel,
         |  0.2 * CAST(CAST(SUM(COALESCE(ws, 0)) AS BIGINT) AS DOUBLE)
         |    / (1e9 * CAST(COUNT(*) AS DOUBLE)) AS mean_rbp
         |FROM pr LEFT JOIN pp USING (probe_id)""".stripMargin,

    "q_rank_mrr" ->
      s"""WITH q AS (SELECT vec_id, label, ${Similarity.qSql} AS qv
         |           FROM embeddings),
         |x AS (SELECT vec_id, label, generate_subscripts(qv, 1) AS i,
         |        unnest(qv) AS v FROM q),
         |n AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY 1),
         |dot AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |          SUM(p.v * c.v) AS d
         |        FROM x p JOIN x c
         |          ON p.i = c.i AND p.vec_id < 10
         |         AND c.vec_id <> p.vec_id
         |        GROUP BY 1, 2),
         |lab AS (SELECT vec_id, label FROM q),
         |sc AS (SELECT probe_id, cand_id,
         |         CAST(d AS DOUBLE) / (sqrt(CAST(np.nn AS DOUBLE)) *
         |           sqrt(CAST(nc.nn AS DOUBLE))) AS cos,
         |         lp.label AS plabel, lc.label AS clabel
         |       FROM dot
         |         JOIN n np ON np.vec_id = probe_id
         |         JOIN n nc ON nc.vec_id = cand_id
         |         JOIN lab lp ON lp.vec_id = probe_id
         |         JOIN lab lc ON lc.vec_id = cand_id),
         |r AS (SELECT probe_id,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |          ORDER BY cos DESC, cand_id) AS BIGINT) AS rk,
         |        clabel = plabel AS rel
         |      FROM sc),
         |fr AS (SELECT probe_id, MIN(rk) AS rk1 FROM r
         |       WHERE rk <= 10 AND rel GROUP BY probe_id),
         |pr AS (SELECT DISTINCT vec_id AS probe_id FROM q
         |       WHERE vec_id < 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         |  CAST(COUNT(rk1) AS BIGINT) AS n_hit,
         |  CAST(CAST(SUM(COALESCE(2520 // rk1, 0)) AS BIGINT) AS DOUBLE) /
         |    (2520.0 * COUNT(*)) AS mrr
         |FROM pr LEFT JOIN fr USING (probe_id)""".stripMargin,

    "q_impute_audit" ->
      """WITH c AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
        |    substr(md5('na' || CAST(c_custkey AS VARCHAR)), 1, 1)
        |      IN ('0', '1') AS miss
        |  FROM customer),
        |pr AS (SELECT seg, cents,
        |    CAST(row_number() OVER (PARTITION BY seg ORDER BY cents)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS np
        |  FROM c WHERE NOT miss),
        |med AS (SELECT seg,
        |    CAST(SUM(cents) * 2 // COUNT(*) AS BIGINT) AS med2
        |  FROM pr WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
        |  GROUP BY seg),
        |st AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_miss,
        |    CAST(SUM(CASE WHEN NOT miss THEN cents END) AS BIGINT)
        |      AS scents
        |  FROM c GROUP BY seg)
        |SELECT seg, n, n_miss,
        |  CAST(med2 AS DOUBLE) / 200.0 AS median_bal,
        |  CAST(scents AS DOUBLE) / (n - n_miss) / 100.0 AS mean_present,
        |  CAST(2 * scents + n_miss * med2 AS DOUBLE) / (2 * n) / 100.0
        |    AS mean_imputed
        |FROM st JOIN med USING (seg) ORDER BY seg""".stripMargin,

    "q_assortativity" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT unnest([tk[i] || ' ' || tk[i+1]
        |         for i in range(1, len(tk))]) AS gram FROM t),
        |e0 AS (SELECT gram FROM g GROUP BY gram),
        |e AS (SELECT string_split(gram, ' ')[1] AS src,
        |        string_split(gram, ' ')[2] AS dst FROM e0),
        |deg AS (SELECT src, CAST(COUNT(DISTINCT dst) AS BIGINT) AS deg
        |  FROM e GROUP BY src),
         |dj AS (SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM e JOIN deg dx ON e.src = dx.src
         |         JOIN deg dy ON e.dst = dy.src),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(dx) AS BIGINT) AS sa, CAST(SUM(dy) AS BIGINT) AS sb,
         |    CAST(SUM(dx * dx) AS BIGINT) AS saa,
         |    CAST(SUM(dy * dy) AS BIGINT) AS sbb,
         |    CAST(SUM(dx * dy) AS BIGINT) AS sab
         |  FROM dj)
         |SELECT n,
         |  CAST(n * sab - sa * sb AS DOUBLE) /
         |    sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
         |         CAST(n * sbb - sb * sb AS DOUBLE)) AS rho
         |FROM m""".stripMargin,

    "q_burn_rate" ->
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS err
        |  FROM events GROUP BY 1),
        |w AS (SELECT hr, n, err,
        |    CAST(SUM(err) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS err6,
        |    CAST(SUM(n) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS n6
        |  FROM h)
        |SELECT hr, n, err,
        |  CAST(err AS DOUBLE) / n / 0.25 AS burn_1h,
        |  CAST(err6 AS DOUBLE) / n6 / 0.25 AS burn_6h,
        |  CAST(CAST(err AS DOUBLE) / n / 0.25 >= 2.0 AND
        |       CAST(err6 AS DOUBLE) / n6 / 0.25 >= 1.0 AS BIGINT)
        |    AS alert
        |FROM w ORDER BY hr""".stripMargin
  )
}

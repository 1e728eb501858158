package graft.operators

import graft.QueryModule
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Optimizer-statistics audits (round 9): the two classic cardinality-
  * estimation errors measured against exact ground truth — the uniform-
  * key assumption on joins and the independence assumption on
  * conjunctive predicates — plus an IVF index-partition balance audit.
  * These are the readouts a query planner (or the engineer tuning one)
  * needs to know WHERE its estimates break; all three carry full DuckDB
  * oracles.
  *
  * Determinism: every count is exact int64; estimates and error ratios
  * are terminal IEEE divisions of exact integers (identical on both
  * engines).
  */
object Planner extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- greedy join-ORDER audit (round 15): does the System-R
      // textbook estimator est(A⋈B) = |A|·|B| / max(ndv_A, ndv_B),
      // fed EXACT table stats, rank the three linear join orders of
      // σ(orders)⋈customer⋈lineitem⋈part the same way the MEASURED
      // intermediate sizes do? (σ = one priority class, so the filter
      // selectivity must propagate through the estimate chain — the
      // part a stats-only ranking usually fumbles.) Cost of a plan =
      // Σ of its two intermediate-result sizes; estimates propagate
      // NDVs the textbook way (join keys survive at the smaller side's
      // NDV, other columns' NDVs unchanged). All stats and actual
      // sizes are exact int64 count aggregates (the "actuals" are
      // three real join counts — the audit pays for its ground truth);
      // the 3-row plan relation is an explode over one crossJoined
      // 1-row scalar spine; ranks are row_numbers over 3 rows. ---
      "q_join_order_greedy" -> ((s, d) => {
        val l = table(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val o5 = table(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
        val lStats = l.agg(count(lit(1)).as("nl"),
          countDistinct("ok").as("lok"), countDistinct("pk").as("lpk"))
        val oStats = o5.agg(count(lit(1)).as("no"),
          countDistinct("ok").as("ook"), countDistinct("ck").as("ock"))
        val cStats = table(s, d, "customer")
          .agg(count(lit(1)).as("nc"),
            countDistinct("c_custkey").as("cck"))
        val pStats = table(s, d, "part")
          .agg(count(lit(1)).as("np"),
            countDistinct("p_partkey").as("ppk"))
        // measured intermediates (exact counts of the real joins)
        val lo = l.join(o5, "ok")
        val aLo = lo.agg(count(lit(1)).as("a_lo"))
        val aLoc = lo.join(table(s, d, "customer")
            .select(col("c_custkey").as("ck")), "ck")
          .agg(count(lit(1)).as("a_loc"))
        val aOc = o5.join(table(s, d, "customer")
            .select(col("c_custkey").as("ck")), "ck")
          .agg(count(lit(1)).as("a_oc"))
        val lp = l.join(table(s, d, "part")
            .select(col("p_partkey").as("pk")), "pk")
        val aLp = lp.agg(count(lit(1)).as("a_lp"))
        val aLpo = lp.join(o5.select("ok"), "ok")
          .agg(count(lit(1)).as("a_lpo"))
        val spine = lStats.crossJoin(oStats).crossJoin(cStats)
          .crossJoin(pStats).crossJoin(aLo).crossJoin(aLoc)
          .crossJoin(aOc).crossJoin(aLp).crossJoin(aLpo)
        // textbook chain estimates (doubles; fixed trees)
        val estLo = col("nl").cast("double") * col("no").cast("double") /
          greatest(col("lok"), col("ook")).cast("double")
        val estLoc = estLo * col("nc").cast("double") /
          greatest(col("ock"), col("cck")).cast("double")
        val estOc = col("no").cast("double") * col("nc").cast("double") /
          greatest(col("ock"), col("cck")).cast("double")
        val estOcl = estOc * col("nl").cast("double") /
          greatest(col("ook"), col("lok")).cast("double")
        val estLp = col("nl").cast("double") * col("np").cast("double") /
          greatest(col("lpk"), col("ppk")).cast("double")
        val estLpo = estLp * col("no").cast("double") /
          greatest(col("lok"), col("ook")).cast("double")
        val plans = spine.select(explode(array(
          struct(lit("lo_c_p").as("plan"),
            (estLo + estLoc).as("est_cost"),
            (col("a_lo") + col("a_loc")).as("actual_cost")),
          struct(lit("oc_l_p").as("plan"),
            (estOc + estOcl).as("est_cost"),
            (col("a_oc") + col("a_loc")).as("actual_cost")),
          struct(lit("lp_o_c").as("plan"),
            (estLp + estLpo).as("est_cost"),
            (col("a_lp") + col("a_lpo")).as("actual_cost"))))
          .as("p"))
          .select(col("p.plan").as("plan"), col("p.est_cost"),
            col("p.actual_cost"))
        val rkE = Window.orderBy(col("est_cost"), col("plan"))
        val rkA = Window.orderBy(col("actual_cost"), col("plan"))
        plans
          .withColumn("est_rank", row_number().over(rkE).cast("long"))
          .withColumn("actual_rank",
            row_number().over(rkA).cast("long"))
          .withColumn("agree", col("est_rank") === col("actual_rank"))
          .orderBy("plan")
      }),

      // --- join-cardinality estimate audit: the optimizer's uniform-
      // key model |A|·|B| / max(ndv_a, ndv_b) vs the EXACT join size
      // Σ_k ca(k)·cb(k), per user bucket, for the view⨝purchase
      // self-join on user_id. The exact size needs NO join: it reduces
      // on the per-user count relation (one shuffle on user_id, then a
      // 16-row rollup); skewed buckets surface as err_ratio >> 1 — the
      // signal that would mislead a join-strategy or memory-grant
      // decision. ca·cb products stay in int64 (per-user event counts
      // are bounded); the estimate is one terminal division. ---
      "q_join_est_audit" -> ((s, d) => {
        val perUser = table(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy("user_id")
          .agg(sum((col("event_type") === "view").cast("long")).as("ca"),
            sum((col("event_type") === "purchase").cast("long")).as("cb"))
        perUser
          .groupBy(pmod(col("user_id"), lit(16)).as("bucket"))
          .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
            sum((col("ca") > 0).cast("long")).as("ndv_a"),
            sum((col("cb") > 0).cast("long")).as("ndv_b"),
            sum(col("ca") * col("cb")).as("actual"))
          .withColumn("est",
            when(greatest(col("ndv_a"), col("ndv_b")) > 0,
              col("n_a").cast("double") * col("n_b").cast("double") /
                greatest(col("ndv_a"), col("ndv_b")).cast("double")))
          .withColumn("err_ratio",
            when(col("est") > 0, col("actual").cast("double") / col("est")))
          .orderBy("bucket")
      }),

      // --- predicate-selectivity independence audit: for three
      // lineitem predicates, the estimated conjunctive row count under
      // the optimizer's independence assumption n·s_i·s_j vs the exact
      // joint count — the correlated-predicates error that silently
      // starves hash joins of memory. ONE scan accumulates all seven
      // conditional counts map-side; the 3-row pair readout is a stack
      // over the single moment row (the q_corr_matrix device). ---
      "q_sel_audit" -> ((s, d) => {
        def c(p: Column): Column = sum(p.cast("long"))
        val p1 = col("l_quantity") >= 25
        val p2 = col("l_returnflag") === "R"
        val p3 = col("l_discount") >= 0.05
        val g = table(s, d, "lineitem").agg(
          count(lit(1)).as("n"),
          c(p1).as("n1"), c(p2).as("n2"), c(p3).as("n3"),
          c(p1 && p2).as("n12"), c(p1 && p3).as("n13"),
          c(p2 && p3).as("n23"))
        def est(ni: String, nj: String): String =
          s"CAST($ni AS DOUBLE) * CAST($nj AS DOUBLE) / CAST(n AS DOUBLE)"
        def lift(ni: String, nj: String, nij: String): String =
          s"CAST($nij AS DOUBLE) * CAST(n AS DOUBLE) / " +
            s"(CAST($ni AS DOUBLE) * CAST($nj AS DOUBLE))"
        g.selectExpr(
            "stack(3, " +
              s"'qty~flag', n1, n2, n12, ${est("n1", "n2")}, " +
              s"${lift("n1", "n2", "n12")}, " +
              s"'qty~disc', n1, n3, n13, ${est("n1", "n3")}, " +
              s"${lift("n1", "n3", "n13")}, " +
              s"'flag~disc', n2, n3, n23, ${est("n2", "n3")}, " +
              s"${lift("n2", "n3", "n23")}) " +
              "AS (pair, n_i, n_j, n_both, est_rows, lift)",
            "n")
          .select(col("pair"), col("n"), col("n_i"), col("n_j"),
            col("n_both"), col("est_rows"), col("lift"))
          .orderBy("pair")
      }),

      // --- shuffle reducer-balance estimate: given the groupBy-key
      // histogram (per-user event counts), the load each of 32 hash
      // partitions would receive under md5 key assignment — the
      // pre-flight skew readout that predicts straggler reducers
      // BEFORE a shuffle runs (the q_skew_audit sibling, one level
      // down: keys → partitions instead of rows → keys). Key counts
      // reduce first (the only corpus-touching shuffle); the 32-row
      // partition rollup and broadcast totals are O(1). skew = 1.0 is
      // a perfectly balanced shuffle. ---
      "q_shuffle_balance" -> ((s, d) => {
        val keys = table(s, d, "events")
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val parts = keys
          .groupBy((conv(substring(md5(concat(lit("sb"),
            col("user_id").cast("string"))), 1, 2), 16, 10)
            .cast("long") % 32).as("reducer"))
          .agg(count(lit(1)).as("n_keys"), sum("cnt").as("load"))
        val tot = parts.agg(sum("load").as("total"),
          count(lit(1)).as("n_parts"))
        parts.crossJoin(broadcast(tot))
          .select(col("reducer"), col("n_keys"), col("load"),
            (col("load").cast("double") / col("total")).as("share"),
            (col("load").cast("double") * col("n_parts") / col("total"))
              .as("skew"))
          .orderBy("reducer")
      }),

      // --- rendezvous (HRW) shard-assignment audit (round 9): every
      // doc scores each shard with md5("hrw|shard|doc") and lands on
      // the argmax — the consistent-assignment scheme whose selling
      // point this query MEASURES: growing 8 shards to 9 moves only
      // the docs whose new shard-8 score beats their old winner
      // (~1/9 of the corpus), where mod-hashing would reshuffle ~8/9.
      // Scoring and both argmaxes are pure map-side scalar CASE trees
      // (no explode, no join); the readout is a 9-row rollup. ---
      "q_shard_rendezvous" -> ((s, d) => {
        def score(k: Int): Column =
          conv(substring(md5(concat(lit(s"hrw|$k|"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        def argmax(n: Int): Column = {
          val gmax = greatest((0 until n).map(score): _*)
          (0 until n).foldRight(lit(-1L)) { (k, rest) =>
            when(score(k) === gmax, lit(k.toLong)).otherwise(rest)
          }
        }
        table(s, d, "documents")
          .select(col("doc_id"), argmax(8).as("shard8"),
            argmax(9).as("shard9"))
          .groupBy("shard8")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("shard8") =!= col("shard9")).cast("long"))
              .as("n_moved"))
          .withColumn("moved_share",
            col("n_moved").cast("double") / col("n_docs"))
          .orderBy("shard8")
      }),

      // --- cluster-purity audit (round 9): per IVF cell, its majority
      // label, the cell purity, and the corpus-level purity
      // Σ max_label / N — the external-validity check (do the
      // geometric cells agree with the labels?) that complements
      // q_silhouette's internal score and q_ivf_balance's size view.
      // Everything reduces to the O(cells × labels) contingency
      // relation; the majority pick is a rank-1 window over that tiny
      // relation with an exact (count desc, label asc) total order. ---
      "q_cluster_purity" -> ((s, d) => {
        val cells = Similarity.ivfAssigned(s, d)
          .join(table(s, d, "embeddings")
            .select(col("vec_id"), col("label").cast("long").as("label")),
            "vec_id")
          .groupBy("bucket", "label").agg(count(lit(1)).as("c"))
        val wr = Window.partitionBy("bucket")
          .orderBy(col("c").desc, col("label").asc)
        val top = cells.withColumn("rn", row_number().over(wr))
          .filter(col("rn") === 1)
          .select(col("bucket"), col("label").as("top_label"),
            col("c").as("top_n"))
        val sizes = cells.groupBy("bucket").agg(sum("c").as("n_vecs"))
        val tot = top.agg(sum("top_n").as("sum_top"))
          .crossJoin(sizes.agg(sum("n_vecs").as("total")))
        sizes.join(top, "bucket").crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_vecs"), col("top_label"),
            col("top_n"),
            (col("top_n").cast("double") / col("n_vecs"))
              .as("cell_purity"),
            (col("sum_top").cast("double") / col("total"))
              .as("overall_purity"))
          .orderBy("bucket")
      }),

      // --- IVF partition-balance audit: per-cell population of the
      // 16-cell IVF index (the q_sim_ivf layout), its share of the
      // corpus, and the per-cell skew factor n_cell·cells/total (1.0 =
      // perfectly balanced) — the readout that decides whether an ANN
      // index needs re-trained centroids or cell splitting, because a
      // hot cell bounds every probe's latency. One aggregate over the
      // shared assignment relation; O(cells) output with a broadcast
      // totals row. ---
      "q_ivf_balance" -> ((s, d) => {
        val cells = Similarity.ivfAssigned(s, d)
          .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        val tot = cells.agg(sum("n_vecs").as("total"),
          count(lit(1)).as("n_cells"))
        cells.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_vecs"),
            (col("n_vecs").cast("double") / col("total")).as("share"),
            (col("n_vecs").cast("double") * col("n_cells") /
              col("total")).as("skew"))
          .orderBy("bucket")
      }),

      // --- NDV-correlation audit (round 10): the optimizer's
      // GROUP-BY cardinality model estimates |distinct(A,B)| as
      // min(ndv(A)·ndv(B), n) — the independence assumption that
      // over-allocates aggregate hash tables when columns correlate
      // (user implies segment, date implies weekday). One pass
      // measures ndv(user), ndv(type), the true pair NDV, and the
      // model's error ratio, per the column pairs a planner would
      // actually consult. Exact distinct counts (the audit must not
      // sketch what it is auditing); one terminal division per
      // pair. ---
      "q_ndv_correlation" -> ((s, d) => {
        val ev = table(s, d, "events")
        def audit(a: String, b: String): DataFrame =
          ev.agg(count(lit(1)).as("n_rows"),
              countDistinct(col(a)).as("ndv_a"),
              countDistinct(col(b)).as("ndv_b"),
              countDistinct(col(a), col(b)).as("ndv_pair"))
            .select(lit(s"$a~$b").as("pair"), col("n_rows"),
              col("ndv_a"), col("ndv_b"), col("ndv_pair"),
              least(col("ndv_a") * col("ndv_b"), col("n_rows"))
                .as("indep_est"),
              (least(col("ndv_a") * col("ndv_b"), col("n_rows"))
                .cast("double") / col("ndv_pair")).as("err_ratio"))
        audit("user_id", "event_type")
          .unionByName(audit("user_id", "props"))
          .unionByName(audit("event_type", "props"))
          .orderBy("pair")
      }),

      // --- skew-salting plan: the ACTIONABLE output of a skew audit —
      // for every key whose row count overflows the 64-row target
      // shard, the salt fan-out (ceil(cnt/64)) and the resulting
      // max-shard load a salted repartition would produce. Pure
      // integer ceil-division arithmetic on the per-key count
      // relation; output is O(hot keys), the exact list a fleet job
      // feeds into q_join_salted's explode-replication. ---
      "q_salt_plan" -> ((s, d) => {
        table(s, d, "events")
          .groupBy("user_id").agg(count(lit(1)).as("n_rows"))
          .withColumn("salt_factor",
            expr("(n_rows + 63) div 64"))
          .filter(col("salt_factor") > 1)
          .withColumn("max_shard_rows",
            expr("(n_rows + salt_factor - 1) div salt_factor"))
          .select(col("user_id"), col("n_rows"), col("salt_factor"),
            col("max_shard_rows"))
          .orderBy(col("n_rows").desc, col("user_id"))
      }))

  override def oracle: Map[String, String] = Map(

    "q_join_order_greedy" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |o5 AS (SELECT o_orderkey AS ok, o_custkey AS ck FROM orders
        |       WHERE o_orderpriority = '1-URGENT'),
        |ls AS (SELECT CAST(COUNT(*) AS BIGINT) AS nl,
        |    CAST(COUNT(DISTINCT ok) AS BIGINT) AS lok,
        |    CAST(COUNT(DISTINCT pk) AS BIGINT) AS lpk FROM l),
        |os AS (SELECT CAST(COUNT(*) AS BIGINT) AS nno,
        |    CAST(COUNT(DISTINCT ok) AS BIGINT) AS ook,
        |    CAST(COUNT(DISTINCT ck) AS BIGINT) AS ock FROM o5),
        |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS cck
        |  FROM customer),
        |ps AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS ppk
        |  FROM part),
        |alo AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_lo
        |  FROM l JOIN o5 USING (ok)),
        |aloc AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_loc
        |  FROM l JOIN o5 USING (ok)
        |  JOIN customer ON ck = c_custkey),
        |aoc AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_oc
        |  FROM o5 JOIN customer ON ck = c_custkey),
        |alp AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_lp
        |  FROM l JOIN part ON pk = p_partkey),
        |alpo AS (SELECT CAST(COUNT(*) AS BIGINT) AS a_lpo
        |  FROM l JOIN part ON pk = p_partkey JOIN o5 USING (ok)),
        |sp AS (SELECT * FROM ls, os, cs, ps, alo, aloc, aoc, alp,
        |  alpo),
        |pl AS (
        |  SELECT 'lo_c_p' AS plan,
        |    CAST(nl AS DOUBLE) * CAST(nno AS DOUBLE)
        |      / CAST(GREATEST(lok, ook) AS DOUBLE)
        |    + CAST(nl AS DOUBLE) * CAST(nno AS DOUBLE)
        |      / CAST(GREATEST(lok, ook) AS DOUBLE) * CAST(nc AS DOUBLE)
        |      / CAST(GREATEST(ock, cck) AS DOUBLE) AS est_cost,
        |    a_lo + a_loc AS actual_cost FROM sp
        |  UNION ALL SELECT 'oc_l_p',
        |    CAST(nno AS DOUBLE) * CAST(nc AS DOUBLE)
        |      / CAST(GREATEST(ock, cck) AS DOUBLE)
        |    + CAST(nno AS DOUBLE) * CAST(nc AS DOUBLE)
        |      / CAST(GREATEST(ock, cck) AS DOUBLE) * CAST(nl AS DOUBLE)
        |      / CAST(GREATEST(ook, lok) AS DOUBLE),
        |    a_oc + a_loc FROM sp
        |  UNION ALL SELECT 'lp_o_c',
        |    CAST(nl AS DOUBLE) * CAST(np AS DOUBLE)
        |      / CAST(GREATEST(lpk, ppk) AS DOUBLE)
        |    + CAST(nl AS DOUBLE) * CAST(np AS DOUBLE)
        |      / CAST(GREATEST(lpk, ppk) AS DOUBLE) * CAST(nno AS DOUBLE)
        |      / CAST(GREATEST(lok, ook) AS DOUBLE),
        |    a_lp + a_lpo FROM sp),
        |r AS (SELECT plan, est_cost, actual_cost,
        |    CAST(ROW_NUMBER() OVER (ORDER BY est_cost, plan)
        |      AS BIGINT) AS est_rank,
        |    CAST(ROW_NUMBER() OVER (ORDER BY actual_cost, plan)
        |      AS BIGINT) AS actual_rank
        |  FROM pl)
        |SELECT plan, est_cost, actual_cost, est_rank, actual_rank,
        |  est_rank = actual_rank AS agree
        |FROM r ORDER BY plan""".stripMargin,

    "q_ndv_correlation" -> {
      def audit(a: String, b: String): String =
        s"""SELECT '$a~$b' AS pair,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(DISTINCT $a) AS BIGINT) AS ndv_a,
           |  CAST(COUNT(DISTINCT $b) AS BIGINT) AS ndv_b,
           |  CAST(COUNT(DISTINCT ($a, $b)) AS BIGINT) AS ndv_pair,
           |  CAST(least(COUNT(DISTINCT $a) * COUNT(DISTINCT $b),
           |    COUNT(*)) AS BIGINT) AS indep_est,
           |  CAST(least(COUNT(DISTINCT $a) * COUNT(DISTINCT $b),
           |    COUNT(*)) AS DOUBLE) / COUNT(DISTINCT ($a, $b))
           |    AS err_ratio
           |FROM events""".stripMargin
      s"""SELECT * FROM (
         |${audit("user_id", "event_type")}
         |UNION ALL
         |${audit("user_id", "props")}
         |UNION ALL
         |${audit("event_type", "props")})
         |ORDER BY pair""".stripMargin
    },

    "q_join_est_audit" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY user_id),
        |b AS (SELECT ((user_id % 16) + 16) % 16 AS bucket,
        |    CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ndv_a,
        |    CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ndv_b,
        |    CAST(SUM(ca * cb) AS BIGINT) AS actual
        |  FROM pu GROUP BY 1)
        |SELECT bucket, n_a, n_b, ndv_a, ndv_b, actual,
        |  CASE WHEN greatest(ndv_a, ndv_b) > 0
        |    THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |      / CAST(greatest(ndv_a, ndv_b) AS DOUBLE) END AS est,
        |  CASE WHEN greatest(ndv_a, ndv_b) > 0
        |      AND CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / CAST(greatest(ndv_a, ndv_b) AS DOUBLE) > 0
        |    THEN CAST(actual AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / CAST(greatest(ndv_a, ndv_b) AS DOUBLE)) END AS err_ratio
        |FROM b ORDER BY bucket""".stripMargin,

    "q_sel_audit" ->
      """WITH g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN l_quantity >= 25 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n12,
        |    CAST(SUM(CASE WHEN l_quantity >= 25 AND l_discount >= 0.05
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n13,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_discount >= 0.05
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n23
        |  FROM lineitem)
        |SELECT 'qty~flag' AS pair, n, n1 AS n_i, n2 AS n_j, n12 AS n_both,
        |  CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS est_rows,
        |  CAST(n12 AS DOUBLE) * CAST(n AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS lift
        |FROM g
        |UNION ALL
        |SELECT 'qty~disc', n, n1, n3, n13,
        |  CAST(n1 AS DOUBLE) * CAST(n3 AS DOUBLE) / CAST(n AS DOUBLE),
        |  CAST(n13 AS DOUBLE) * CAST(n AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n3 AS DOUBLE))
        |FROM g
        |UNION ALL
        |SELECT 'flag~disc', n, n2, n3, n23,
        |  CAST(n2 AS DOUBLE) * CAST(n3 AS DOUBLE) / CAST(n AS DOUBLE),
        |  CAST(n23 AS DOUBLE) * CAST(n AS DOUBLE)
        |    / (CAST(n2 AS DOUBLE) * CAST(n3 AS DOUBLE))
        |FROM g
        |ORDER BY pair""".stripMargin,

    "q_shuffle_balance" ->
      """WITH k AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY user_id),
        |p AS (SELECT
        |    CAST(list_sum([CAST(strpos('0123456789abcdef',
        |        substr(md5('sb' || CAST(user_id AS VARCHAR)), i, 1)) - 1
        |        AS BIGINT) << (4 * (2 - i)) for i in range(1, 3)])
        |      % 32 AS BIGINT) AS reducer,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS load
        |  FROM k GROUP BY 1),
        |t AS (SELECT CAST(SUM(load) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_parts FROM p)
        |SELECT reducer, n_keys, load,
        |  CAST(load AS DOUBLE) / total AS share,
        |  CAST(load AS DOUBLE) * n_parts / total AS skew
        |FROM p CROSS JOIN t ORDER BY reducer""".stripMargin,

    "q_shard_rendezvous" -> {
      def scoreSql(k: Int): String =
        s"""CAST(list_sum([CAST(strpos('0123456789abcdef',
           |      substr(md5('hrw|$k|' || CAST(doc_id AS VARCHAR)), i, 1))
           |      - 1 AS BIGINT)
           |    << (4 * (8 - i)) for i in range(1, 9)]) AS BIGINT)""".stripMargin
      val scores = (0 until 9).map(k => s"${scoreSql(k)} AS s$k")
        .mkString(",\n|    ")
      def argmax(n: Int): String = {
        val g = (0 until n).map(k => s"s$k").mkString("greatest(", ", ", ")")
        (0 until n).map(k => s"WHEN s$k = $g THEN $k")
          .mkString("CASE ", " ", " END")
      }
      s"""WITH sc AS (SELECT doc_id,
         |    $scores
         |  FROM documents),
         |a AS (SELECT doc_id,
         |    CAST(${argmax(8)} AS BIGINT) AS shard8,
         |    CAST(${argmax(9)} AS BIGINT) AS shard9
         |  FROM sc)
         |SELECT shard8, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS moved_share
         |FROM a GROUP BY 1 ORDER BY shard8""".stripMargin
    },

    "q_cluster_purity" ->
      s"""WITH ${Similarity.ivfAsgCte},
         |cl AS (SELECT bucket, CAST(e.label AS BIGINT) AS label,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM asg JOIN embeddings e ON e.vec_id = asg.vid
         |  GROUP BY 1, 2),
         |tp AS (SELECT bucket, label AS top_label, c AS top_n FROM (
         |    SELECT bucket, label, c, row_number() OVER (
         |      PARTITION BY bucket ORDER BY c DESC, label) AS rn
         |    FROM cl) WHERE rn = 1),
         |sz AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS n_vecs
         |  FROM cl GROUP BY 1),
         |tt AS (SELECT
         |    (SELECT CAST(SUM(top_n) AS BIGINT) FROM tp) AS sum_top,
         |    (SELECT CAST(SUM(n_vecs) AS BIGINT) FROM sz) AS total)
         |SELECT bucket, n_vecs, top_label, top_n,
         |  CAST(top_n AS DOUBLE) / n_vecs AS cell_purity,
         |  CAST(sum_top AS DOUBLE) / total AS overall_purity
         |FROM sz JOIN tp USING (bucket) CROSS JOIN tt
         |ORDER BY bucket""".stripMargin,

    "q_ivf_balance" ->
      s"""WITH ${Similarity.ivfAsgCte},
         |cells AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM asg GROUP BY bucket),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         |    CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
         |SELECT bucket, n_vecs,
         |  CAST(n_vecs AS DOUBLE) / total AS share,
         |  CAST(n_vecs AS DOUBLE) * n_cells / total AS skew
         |FROM cells CROSS JOIN tot ORDER BY bucket""".stripMargin,

    "q_salt_plan" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1),
        |f AS (SELECT user_id, n_rows,
        |    (n_rows + 63) // 64 AS salt_factor
        |  FROM c)
        |SELECT user_id, n_rows, salt_factor,
        |  (n_rows + salt_factor - 1) // salt_factor AS max_shard_rows
        |FROM f WHERE salt_factor > 1
        |ORDER BY n_rows DESC, user_id""".stripMargin)
}

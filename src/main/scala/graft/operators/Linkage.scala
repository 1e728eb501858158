package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Entity-resolution and statistical-inference operators (round 7, third
  * block): sorted-neighborhood blocking, asymmetric n-gram containment
  * (quote / subset detection), RAKE keyword extraction, and Poisson-
  * bootstrap confidence intervals. All four carry full DuckDB oracles.
  *
  * Determinism: edit distance and all RAKE statistics are integers until
  * one terminal division; bootstrap replica weights come from a pure
  * modular-arithmetic mixer (no RNG, no libm — the q_dp_count
  * discipline), and each replica mean is one exact-decimal/int64
  * division.
  */
object Linkage extends QueryModule {

  /** Two-step Knuth mixer kept inside int64: each step multiplies a
    * <=2^31 residue by 2654435761 (<2^31.3), so products stay <2^63.
    */
  private def mix2(a: Column, b: Column): Column = {
    val h1 = pmod(a * lit(2654435761L), lit(2147483648L))
    pmod((h1 + b) * lit(2654435761L), lit(2147483648L))
  }

  /** q_linkage_em_step posterior weights: with literal priors
    * p=0.1, m=(0.9, 0.8), u=(0.3, 0.2), the E-step weight of each
    * agreement pattern (γ1, γ2) is a closed-form constant
    * p·Π m^γ(1−m)^(1−γ) / (that + (1−p)·Π u^γ(1−u)^(1−γ)) — computed
    * once here; Double.toString embeds the shortest round-trip repr
    * in the oracle so both engines hold the identical double.
    */
  private def emW(g1: Int, g2: Int): Double = {
    def f(v: Double, g: Int): Double = if (g == 1) v else 1 - v
    val a = 0.1 * f(0.9, g1) * f(0.8, g2)
    val b = 0.9 * f(0.3, g1) * f(0.2, g2)
    a / (a + b)
  }
  private[operators] val EmW11: Double = emW(1, 1)
  private[operators] val EmW10: Double = emW(1, 0)
  private[operators] val EmW01: Double = emW(0, 1)
  private[operators] val EmW00: Double = emW(0, 0)

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- Fellegi-Sunter match/unmatch weights (round 13): the
      // probabilistic record-linkage parameters — for each agreement
      // feature f, m = P(agree | match) from the LABELED match set
      // (the ngram near-dup truth relation) and u = P(agree | random
      // pair) computed EXACTLY from marginal collision counts, never a
      // sampled non-match set: same-source u = Σ C(n_s,2)/C(n,2),
      // same-lang likewise, and length-within-8 from the n_chars
      // histogram via a ±8-offset EXPLODE equi-join (17 rows per band
      // — an equi-join, not a range theta join). The log-odds weight
      // is reported as the m/u ratio, cross-multiplied exact int64
      // with ONE division. All relations are O(truth pairs) or
      // O(bands); nothing corpus-quadratic ever materializes. ---
      "q_linkage_weights" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"))
        val pairs = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"))
        val fa = docs.select(col("doc_id").as("a_id"),
          col("source").as("sa"), col("lang").as("la"),
          col("n_chars").as("ca"))
        val fb = docs.select(col("doc_id").as("b_id"),
          col("source").as("sb"), col("lang").as("lb"),
          col("n_chars").as("cb"))
        val mAgg = pairs.join(broadcast(fa), "a_id")
          .join(broadcast(fb), "b_id")
          .agg(count(lit(1)).as("tm"),
            sum((col("sa") === col("sb")).cast("long"))
              .cast("long").as("am_source"),
            sum((col("la") === col("lb")).cast("long"))
              .cast("long").as("am_lang"),
            sum((abs(col("ca") - col("cb")) <= 8).cast("long"))
              .cast("long").as("am_len"))
        val n1 = docs.agg(count(lit(1)).as("n"))
        val auSource = docs.groupBy("source")
          .agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) div 2")).cast("long")
            .as("au_source"))
        val auLang = docs.groupBy("lang")
          .agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) div 2")).cast("long")
            .as("au_lang"))
        val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("h"))
        val shifted = hist.select(
          explode(sequence(col("n_chars") - 8, col("n_chars") + 8))
            .as("n_chars"), col("h").as("h2"))
        // rawlen counts ORDERED agree pairs incl. self-pairs over the
        // ±8 window: au_len = (rawlen - n) / 2
        val one = mAgg.crossJoin(broadcast(n1))
          .crossJoin(broadcast(auSource))
          .crossJoin(broadcast(auLang))
          .crossJoin(broadcast(
            hist.join(shifted, "n_chars")
              .agg(sum(col("h") * col("h2")).cast("long").as("rawlen"))))
          .select(col("tm"), col("am_source"), col("am_lang"),
            col("am_len"), col("n"),
            expr("n * (n - 1) div 2").cast("long").as("tu"),
            col("au_source"), col("au_lang"),
            expr("(rawlen - n) div 2").cast("long").as("au_len"))
        one.select(explode(array(
            struct(lit("1_same_source").as("feature"),
              col("am_source").as("m_num"), col("tm").as("m_den"),
              col("au_source").as("u_num"), col("tu").as("u_den")),
            struct(lit("2_same_lang").as("feature"),
              col("am_lang").as("m_num"), col("tm").as("m_den"),
              col("au_lang").as("u_num"), col("tu").as("u_den")),
            struct(lit("3_len_within_8").as("feature"),
              col("am_len").as("m_num"), col("tm").as("m_den"),
              col("au_len").as("u_num"), col("tu").as("u_den"))))
            .as("f"))
          .select(col("f.feature").as("feature"),
            col("f.m_num").as("m_num"), col("f.m_den").as("m_den"),
            col("f.u_num").as("u_num"), col("f.u_den").as("u_den"),
            (col("f.m_num").cast("double") /
              col("f.m_den").cast("double")).as("m"),
            (col("f.u_num").cast("double") /
              col("f.u_den").cast("double")).as("u"),
            ((col("f.m_num") * col("f.u_den")).cast("double") /
              (col("f.m_den") * col("f.u_num")).cast("double"))
              .as("weight"))
          .orderBy("feature")
      }),

      // --- sorted-neighborhood entity-resolution blocking: sort each
      // mktsegment block by name, compare every record to its next 3
      // neighbors, keep candidate pairs within edit distance 2 — the
      // classic SNM linkage pass (window w=4 over a sort key). The
      // neighborhood is 3 lead() columns over ONE per-segment window
      // (never a rank self-join, which would shuffle the sorted
      // relation twice), stacked and filtered map-side. The window
      // partitions by segment — the blocking key IS the partition key,
      // so at fleet scale each block sorts independently; the
      // comparison budget is 3n per block by construction, the whole
      // point of SNM over all-pairs. ---
      // --- Fellegi-Sunter EM step (round 15): one
      // expectation-maximization iteration for the match/unmatch
      // parameters over sorted-neighborhood candidate pairs with two
      // binary agreement features (same lang, |Δn_chars| ≤ 8) — the
      // iterative companion to q_linkage_weights' closed-form
      // estimates, same shape as the other one-step-as-a-query
      // operators (q_als_step, q_kmeans_step, q_bt_step). Determinism
      // device: with literal priors the four per-pattern posterior
      // weights are CLOSED-FORM CONSTANTS — computed once on the
      // driver and embedded as shortest-repr literals in BOTH engines
      // (Double.toString round-trips), so the engines only ever do
      // exact int64 pattern counting plus one fixed 4-term double
      // tree per output column. O(3n) candidate pairs from per-source
      // lead windows; 1-row out. ---
      "q_linkage_em_step" -> ((s, d) => {
        val wn = Window.partitionBy("source")
          .orderBy(col("n_chars"), col("doc_id"))
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"))
        val withLeads = docs
          .withColumn("l1", lead("lang", 1).over(wn))
          .withColumn("n1", lead("n_chars", 1).over(wn))
          .withColumn("l2", lead("lang", 2).over(wn))
          .withColumn("n2", lead("n_chars", 2).over(wn))
          .withColumn("l3", lead("lang", 3).over(wn))
          .withColumn("n3", lead("n_chars", 3).over(wn))
        val pairs = withLeads.select(col("lang").as("la"),
            col("n_chars").as("ca"),
            explode(array(
              struct(col("l1").as("lb"), col("n1").as("cb")),
              struct(col("l2").as("lb"), col("n2").as("cb")),
              struct(col("l3").as("lb"), col("n3").as("cb"))))
              .as("nb"))
          .filter(col("nb.cb").isNotNull)
          .select((col("la") === col("nb.lb")).as("g1"),
            (abs(col("ca") - col("nb.cb")) <= 8).as("g2"))
        val cs = pairs.agg(count(lit(1)).as("n"),
          sum(when(col("g1") && col("g2"), 1L).otherwise(0L))
            .cast("long").as("c11"),
          sum(when(col("g1") && !col("g2"), 1L).otherwise(0L))
            .cast("long").as("c10"),
          sum(when(!col("g1") && col("g2"), 1L).otherwise(0L))
            .cast("long").as("c01"),
          sum(when(!col("g1") && !col("g2"), 1L).otherwise(0L))
            .cast("long").as("c00"))
        cs.withColumn("den",
            col("c11").cast("double") * lit(EmW11)
              + col("c10").cast("double") * lit(EmW10)
              + col("c01").cast("double") * lit(EmW01)
              + col("c00").cast("double") * lit(EmW00))
          .withColumn("nm1", col("c11").cast("double") * lit(EmW11)
            + col("c10").cast("double") * lit(EmW10))
          .withColumn("nm2", col("c11").cast("double") * lit(EmW11)
            + col("c01").cast("double") * lit(EmW01))
          .select(col("n").as("n_cand"), col("c00"), col("c01"),
            col("c10"), col("c11"),
            (col("den") / col("n").cast("double")).as("p1"),
            (col("nm1") / col("den")).as("m1"),
            (col("nm2") / col("den")).as("m2"),
            (((col("c11") + col("c10")).cast("double") - col("nm1"))
              / (col("n").cast("double") - col("den"))).as("u1"),
            (((col("c11") + col("c01")).cast("double") - col("nm2"))
              / (col("n").cast("double") - col("den"))).as("u2"))
      }),

      "q_sorted_neighborhood" -> ((s, d) => {
        val c = table(s, d, "customer")
          .select(col("c_mktsegment").as("seg"), col("c_name"),
            col("c_custkey"))
        val withLeads = c
          .withColumn("ln1", lead("c_name", 1).over(
            Window.partitionBy("seg").orderBy("c_name")))
          .withColumn("lk1", lead("c_custkey", 1).over(
            Window.partitionBy("seg").orderBy("c_name")))
          .withColumn("ln2", lead("c_name", 2).over(
            Window.partitionBy("seg").orderBy("c_name")))
          .withColumn("lk2", lead("c_custkey", 2).over(
            Window.partitionBy("seg").orderBy("c_name")))
          .withColumn("ln3", lead("c_name", 3).over(
            Window.partitionBy("seg").orderBy("c_name")))
          .withColumn("lk3", lead("c_custkey", 3).over(
            Window.partitionBy("seg").orderBy("c_name")))
        withLeads.select(col("seg"), col("c_name"), col("c_custkey"),
            explode(array(
              struct(col("ln1").as("bn"), col("lk1").as("bk")),
              struct(col("ln2").as("bn"), col("lk2").as("bk")),
              struct(col("ln3").as("bn"), col("lk3").as("bk"))))
              .as("nb"))
          .filter(col("nb.bk").isNotNull)
          .select(col("seg"), col("c_custkey").as("a_key"),
            col("nb.bk").as("b_key"),
            lng(levenshtein(col("c_name"), col("nb.bn"))).as("dist"))
          .filter(col("dist") <= 2)
          .orderBy("seg", "a_key", "b_key")
      }),

      // --- asymmetric n-gram containment (quote / subset detection):
      // containment = |A∩B| / min(|A|,|B|) over per-doc distinct
      // 3-gram shingle sets — the measure that catches a short doc
      // embedded in a long one, which symmetric Jaccard dilutes away
      // (the dedup suite's blind spot this op closes). Candidates and
      // the intersection count come from the SAME single-shuffle
      // posting-list pair stream as q_dedup_ngram (TextPipeline
      // .postingPairs — one exploded-stream shuffle, df-capped lists,
      // never a self-join); only the denominator differs. ---
      "q_containment" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"),
            TextPipeline.shingles(TextPipeline.toks).as("sh"))
        val counts = docs.select(col("doc_id"), lng(size(col("sh"))).as("n"))
        val ex = docs.select(col("doc_id"), explode(col("sh")).as("sg"))
        val postings = graft.Tables.pinWidth(ex, col("sg"))
          .groupBy("sg")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")).between(2, TextPipeline.NgramDfCap))
        val inter = TextPipeline.postingPairs(postings)
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("inter"))
        val ca = counts.as("ca"); val cb = counts.as("cb")
        inter
          .join(ca, col("a_id") === col("ca.doc_id"))
          .join(cb, col("b_id") === col("cb.doc_id"))
          .select(col("a_id"), col("b_id"), col("inter"),
            col("ca.n").as("na"), col("cb.n").as("nb"),
            (col("inter").cast("double") /
              least(col("ca.n"), col("cb.n")).cast("double"))
              .as("containment"))
          .filter(col("containment") >= 0.8)
          .orderBy("a_id", "b_id")
      }),

      // --- RAKE keyword extraction: candidate phrases are maximal
      // stopword-free token runs (length <= 3, stopwords = the top-5
      // document-frequency tokens — rank-based rather than the
      // q_df_stopwords ratio gate because this corpus's 31-token
      // vocabulary puts 30 tokens above df 0.5, which would leave no
      // content words to phrase); a word scores
      // deg(w)=Σ phrase-length over its phrase occurrences against
      // freq(w)=its occurrence count, and a phrase scores
      // Σdeg / Σfreq — the degree-to-frequency RAKE variant that stays
      // EXACT-INTEGER until one terminal division (per-word deg/freq
      // division then summed would be order-dependent FP). Phrase
      // segmentation is a cumulative stop-flag window per doc (doc-
      // partitioned — rides the corpus's natural partitioning); word
      // stats and the phrase-level sums are two hash aggregates; the
      // global top-10 is TakeOrdered, never a full sort. ---
      "q_rake_keywords" -> ((s, d) => {
        val docs = table(s, d, "documents")
        val stops = docs
          .select(explode(array_distinct(TextPipeline.toks)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("tok").asc)
          .limit(5)
          .select(col("tok").as("stop_tok"))
        val toks = docs
          .select(col("doc_id"), posexplode(TextPipeline.toks)
            .as(Seq("i", "tok")))
        val marked = toks
          .join(broadcast(stops), col("tok") === col("stop_tok"), "left")
          .withColumn("is_stop", col("stop_tok").isNotNull.cast("long"))
        val wg = Window.partitionBy("doc_id").orderBy("i")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val members = marked
          .withColumn("grp", sum("is_stop").over(wg))
          .filter(col("is_stop") === 0)
        val phrases = members.groupBy("doc_id", "grp")
          .agg(sort_array(collect_list(struct(col("i"), col("tok"))))
            .as("arr"))
          .filter(size(col("arr")).between(1, 3))
          .select(col("doc_id"), col("grp"),
            array_join(transform(col("arr"), x => x.getField("tok")), " ")
              .as("phrase"),
            lng(size(col("arr"))).as("plen"),
            transform(col("arr"), x => x.getField("tok")).as("words"))
        val pwords = phrases
          .select(col("phrase"), col("plen"), explode(col("words"))
            .as("w"))
        val wstats = pwords.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        // score DISTINCT phrase texts: the per-instance member relation
        // would multiply every word stat by the occurrence count, so
        // collapse to texts first and re-derive the word multiset from
        // the text itself — identical tokens, zero double counting
        val distinctPhrases = phrases.groupBy("phrase")
          .agg(count(lit(1)).as("n_occur"))
        val scored = distinctPhrases
          .select(col("phrase"), col("n_occur"),
            explode(split(col("phrase"), " ")).as("w"))
          .join(wstats, Seq("w"))
          .groupBy("phrase")
          .agg(max("n_occur").as("n_occur"),
            sum("deg").as("pdeg"), sum("freq").as("pfreq"))
        scored
          .select(col("phrase"), col("n_occur"),
            (col("pdeg").cast("double") / col("pfreq").cast("double"))
              .as("score"))
          .orderBy(col("score").desc, col("phrase").asc)
          .limit(10)
      }),

      // --- Poisson-bootstrap confidence interval for the mean price
      // per returnflag: the ONLY bootstrap that works on distributed
      // data (true resampling needs global coordination; Poisson
      // weights are per-row-independent, so all 32 replicas ride ONE
      // map-side pass — each row carries its 32 deterministic weights,
      // the per-(flag, replica) reduce is one partial-aggregated
      // groupBy of 32·|flags| cells). Weights approximate Poisson(1)
      // ({0,1,2,3} at 368/368/184/80 per mille) from the modular
      // mixer; each replica mean is one exact-decimal/int64 division;
      // the CI is the 2nd-smallest / 2nd-largest replica mean (the
      // 93.75% order-statistic interval) via one 32-row-per-flag
      // window. ---
      "q_bootstrap_ci" -> ((s, d) => {
        val li = table(s, d, "lineitem").select(
          col("l_returnflag").as("flag"),
          dec(col("l_extendedprice")).as("x"),
          col("l_orderkey"), col("l_linenumber"))
        val reps = li.select(col("flag"), col("x"),
          mix2(pmod(col("l_orderkey") * 7919 + col("l_linenumber"),
            lit(2147483648L)), lit(0L)).as("h0"),
          explode(sequence(lit(0), lit(31))).as("b"))
        val u = pmod(mix2(col("h0"), col("b").cast("long")), lit(1000L))
        val wgt = when(u < 368, 0L).when(u < 736, 1L)
          .when(u < 920, 2L).otherwise(3L)
        val means = reps.withColumn("wgt", wgt)
          .groupBy("flag", "b")
          .agg(sum(col("x") * col("wgt")).as("sw"),
            sum(col("wgt")).as("nw"))
          .select(col("flag"), col("b"),
            (col("sw").cast("double") / col("nw").cast("double"))
              .as("mean_b"))
        val wr = Window.partitionBy("flag")
          .orderBy(col("mean_b").asc, col("b").asc)
        val ranked = means
          .withColumn("rk", row_number().over(wr))
        val ci = ranked.groupBy("flag").agg(
          min(when(col("rk") === 2, col("mean_b"))).as("lo_ci"),
          min(when(col("rk") === 31, col("mean_b"))).as("hi_ci"))
        val overall = li.groupBy("flag")
          .agg((sum("x").cast("double") / count(lit(1))).as("mean"))
        overall.join(ci, Seq("flag"))
          .select(col("flag"), col("mean"), col("lo_ci"), col("hi_ci"))
          .orderBy("flag")
      }),

      // --- blocking-quality evaluation (round 10): the two numbers
      // that justify ANY dedup/linkage blocker — pairs completeness
      // (share of true near-dup pairs the blocks retain) and reduction
      // ratio (share of the n(n−1)/2 all-pairs space pruned away) —
      // here for the 8-token-prefix blocker (q_prefix_dups' key).
      // Candidates come from the posting-list pair idiom over prefix
      // groups, df-capped at 2..50 exactly like the deployed blockers
      // (a viral boilerplate prefix would quadratically explode any
      // real run, so the metric scores the blocker AS DEPLOYED); truth
      // is the materialized exact pair relation. The all-pairs
      // denominator is DECIMAL(38,0)-exact before its one division.
      // 1-row output. ---
      "q_blocking_eval" -> ((s, d) => {
        val docs = table(s, d, "documents")
        val groups = docs
          .select(md5(concat_ws(" ",
            slice(split(col("text"), " "), 1, 8))).as("pfx"),
            col("doc_id"))
          .groupBy("pfx")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")).between(2, 50))
        val cand = TextPipeline.postingPairs(groups).distinct()
        val truth = TextPipeline.ngramPairs(s, d).select("a_id", "b_id")
        val nDocs = docs.agg(count(lit(1)).as("n"))
        val nCand = cand.agg(count(lit(1)).as("n_cand"))
        val nTruth = truth.agg(count(lit(1)).as("n_truth"))
        val nHit = cand.join(truth, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        nDocs.crossJoin(nCand).crossJoin(nTruth).crossJoin(nHit)
          .select(col("n").as("n_docs"), col("n_cand"), col("n_truth"),
            col("n_hit"),
            (col("n_hit").cast("double") / col("n_truth"))
              .as("pairs_completeness"),
            (lit(1.0) - col("n_cand").cast("double") /
              (col("n").cast(DecimalType(38, 0)) * (col("n") - 1) / 2)
                .cast("double")).as("reduction_ratio"))
      }))

  override def oracle: Map[String, String] = Map(

    "q_linkage_em_step" ->
      s"""WITH wl AS (SELECT lang, n_chars,
         |    LEAD(lang, 1) OVER w AS l1, LEAD(n_chars, 1) OVER w AS n1,
         |    LEAD(lang, 2) OVER w AS l2, LEAD(n_chars, 2) OVER w AS n2,
         |    LEAD(lang, 3) OVER w AS l3, LEAD(n_chars, 3) OVER w AS n3
         |  FROM documents
         |  WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)),
         |pr AS (
         |  SELECT lang AS la, n_chars AS ca, l1 AS lb, n1 AS cb
         |    FROM wl WHERE n1 IS NOT NULL
         |  UNION ALL SELECT lang, n_chars, l2, n2 FROM wl
         |    WHERE n2 IS NOT NULL
         |  UNION ALL SELECT lang, n_chars, l3, n3 FROM wl
         |    WHERE n3 IS NOT NULL),
         |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN la = lb AND abs(ca - cb) <= 8
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c11,
         |    CAST(SUM(CASE WHEN la = lb AND NOT abs(ca - cb) <= 8
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c10,
         |    CAST(SUM(CASE WHEN NOT la = lb AND abs(ca - cb) <= 8
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c01,
         |    CAST(SUM(CASE WHEN NOT la = lb AND NOT abs(ca - cb) <= 8
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c00
         |  FROM pr),
         |em AS (SELECT n, c00, c01, c10, c11,
         |    CAST(c11 AS DOUBLE) * $EmW11 + CAST(c10 AS DOUBLE) * $EmW10
         |      + CAST(c01 AS DOUBLE) * $EmW01
         |      + CAST(c00 AS DOUBLE) * $EmW00 AS den,
         |    CAST(c11 AS DOUBLE) * $EmW11 + CAST(c10 AS DOUBLE) * $EmW10
         |      AS nm1,
         |    CAST(c11 AS DOUBLE) * $EmW11 + CAST(c01 AS DOUBLE) * $EmW01
         |      AS nm2
         |  FROM cs)
         |SELECT n AS n_cand, c00, c01, c10, c11,
         |  den / CAST(n AS DOUBLE) AS p1,
         |  nm1 / den AS m1, nm2 / den AS m2,
         |  (CAST(c11 + c10 AS DOUBLE) - nm1)
         |    / (CAST(n AS DOUBLE) - den) AS u1,
         |  (CAST(c11 + c01 AS DOUBLE) - nm2)
         |    / (CAST(n AS DOUBLE) - den) AS u2
         |FROM em""".stripMargin,

    "q_linkage_weights" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |fm AS (SELECT doc_id, source, lang, n_chars FROM documents),
         |ma AS (SELECT CAST(COUNT(*) AS BIGINT) AS tm,
         |    CAST(SUM(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
         |      AS BIGINT) AS am_source,
         |    CAST(SUM(CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END)
         |      AS BIGINT) AS am_lang,
         |    CAST(SUM(CASE WHEN abs(a.n_chars - b.n_chars) <= 8
         |      THEN 1 ELSE 0 END) AS BIGINT) AS am_len
         |  FROM p JOIN fm a ON a.doc_id = p.a_id
         |         JOIN fm b ON b.doc_id = p.b_id),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |us AS (SELECT CAST(SUM(c2 * (c2 - 1) // 2) AS BIGINT)
         |    AS au_source
         |  FROM (SELECT COUNT(*) AS c2 FROM documents GROUP BY source)),
         |ul AS (SELECT CAST(SUM(c2 * (c2 - 1) // 2) AS BIGINT)
         |    AS au_lang
         |  FROM (SELECT COUNT(*) AS c2 FROM documents GROUP BY lang)),
         |hh AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS h
         |       FROM documents GROUP BY n_chars),
         |sh AS (SELECT unnest(range(n_chars - 8, n_chars + 9))
         |         AS n_chars, h AS h2 FROM hh),
         |rl AS (SELECT CAST(SUM(hh.h * sh.h2) AS BIGINT) AS rawlen
         |       FROM hh JOIN sh USING (n_chars)),
         |onez AS (SELECT ma.tm, ma.am_source, ma.am_lang, ma.am_len,
         |    ns.n, CAST(ns.n * (ns.n - 1) // 2 AS BIGINT) AS tu,
         |    us.au_source, ul.au_lang,
         |    CAST((rl.rawlen - ns.n) // 2 AS BIGINT) AS au_len
         |  FROM ma CROSS JOIN ns CROSS JOIN us CROSS JOIN ul
         |  CROSS JOIN rl),
         |fx AS (
         |  SELECT '1_same_source' AS feature, am_source AS m_num,
         |    tm AS m_den, au_source AS u_num, tu AS u_den FROM onez
         |  UNION ALL SELECT '2_same_lang', am_lang, tm, au_lang, tu
         |    FROM onez
         |  UNION ALL SELECT '3_len_within_8', am_len, tm, au_len, tu
         |    FROM onez)
         |SELECT feature, m_num, m_den, u_num, u_den,
         |  CAST(m_num AS DOUBLE) / CAST(m_den AS DOUBLE) AS m,
         |  CAST(u_num AS DOUBLE) / CAST(u_den AS DOUBLE) AS u,
         |  CAST(m_num * u_den AS DOUBLE) / CAST(m_den * u_num AS DOUBLE)
         |    AS weight
         |FROM fx ORDER BY feature""".stripMargin,

    "q_blocking_eval" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |g AS (SELECT md5(array_to_string(
         |        list_slice(string_split(text, ' '), 1, 8), ' ')) AS pfx,
         |      doc_id
         |    FROM documents),
         |gl AS (SELECT pfx, COUNT(*) AS sz FROM g GROUP BY 1
         |       HAVING COUNT(*) BETWEEN 2 AND 50),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM g a JOIN g b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
         |  JOIN gl ON gl.pfx = a.pfx),
         |m AS (SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_truth,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand
         |   JOIN p USING (a_id, b_id)) AS n_hit)
         |SELECT n_docs, n_cand, n_truth, n_hit,
         |  CAST(n_hit AS DOUBLE) / n_truth AS pairs_completeness,
         |  1.0 - CAST(n_cand AS DOUBLE) /
         |    CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE)
         |      AS reduction_ratio
         |FROM m""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg, c_name, c_custkey,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY c_name) AS r
        |  FROM customer)
        |SELECT x.seg AS seg, x.c_custkey AS a_key, y.c_custkey AS b_key,
        |  CAST(levenshtein(x.c_name, y.c_name) AS BIGINT) AS dist
        |FROM c x JOIN c y
        |  ON x.seg = y.seg AND y.r - x.r BETWEEN 1 AND 3
        |WHERE levenshtein(x.c_name, y.c_name) <= 2
        |ORDER BY x.seg, a_key, b_key""".stripMargin,

    "q_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(
        |          range(1, greatest(len(tk) - 2, 0) + 1),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |      FROM t),
        |c AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
        |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        |g AS (SELECT sg, CAST(COUNT(*) AS BIGINT) AS df FROM e
        |      GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 256),
        |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM e a JOIN g USING (sg)
        |            JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, inter, ca.n AS na, cb.n AS nb,
        |  CAST(inter AS DOUBLE) /
        |    CAST(least(ca.n, cb.n) AS DOUBLE) AS containment
        |FROM pr JOIN c ca ON ca.doc_id = a_id
        |        JOIN c cb ON cb.doc_id = b_id
        |WHERE CAST(inter AS DOUBLE) /
        |    CAST(least(ca.n, cb.n) AS DOUBLE) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    "q_rake_keywords" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |stp AS (SELECT tok FROM (
        |          SELECT tok, COUNT(*) AS df FROM (
        |            SELECT unnest(list_distinct(tk)) AS tok FROM d) u
        |          GROUP BY tok) f
        |        QUALIFY row_number() OVER (ORDER BY df DESC, tok) <= 5),
        |tkx AS (SELECT doc_id, generate_subscripts(tk, 1) AS i,
        |          unnest(tk) AS tok FROM d),
        |mk AS (SELECT t.doc_id, t.i, t.tok,
        |         CASE WHEN s.tok IS NULL THEN 0 ELSE 1 END AS is_stop
        |       FROM tkx t LEFT JOIN stp s ON t.tok = s.tok),
        |mem AS (SELECT doc_id, i, tok,
        |          SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS grp
        |        FROM mk QUALIFY is_stop = 0),
        |ph AS (SELECT doc_id, grp,
        |         string_agg(tok, ' ' ORDER BY i) AS phrase,
        |         CAST(COUNT(*) AS BIGINT) AS plen
        |       FROM mem GROUP BY 1, 2
        |       HAVING COUNT(*) BETWEEN 1 AND 3),
        |pw AS (SELECT ph.phrase, ph.plen, mem.tok AS w
        |       FROM ph JOIN mem
        |         ON ph.doc_id = mem.doc_id AND ph.grp = mem.grp),
        |ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
        |         CAST(SUM(plen) AS BIGINT) AS deg
        |       FROM pw GROUP BY 1),
        |dp AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur
        |       FROM ph GROUP BY 1),
        |dpw AS (SELECT phrase, n_occur, unnest(string_split(phrase, ' '))
        |          AS w
        |        FROM dp),
        |sc AS (SELECT phrase, MAX(n_occur) AS n_occur,
        |         CAST(SUM(deg) AS BIGINT) AS pdeg,
        |         CAST(SUM(freq) AS BIGINT) AS pfreq
        |       FROM dpw JOIN ws USING (w) GROUP BY phrase)
        |SELECT phrase, n_occur,
        |  CAST(pdeg AS DOUBLE) / CAST(pfreq AS DOUBLE) AS score
        |FROM sc ORDER BY score DESC, phrase ASC LIMIT 10""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) AS x,
        |         ((l_orderkey * 7919 + l_linenumber) % 2147483648)
        |           AS k0
        |  FROM lineitem),
        |h AS (SELECT flag, x,
        |        ((k0 * 2654435761) % 2147483648 * 2654435761)
        |          % 2147483648 AS h0
        |      FROM li),
        |r AS (SELECT flag, x, h0, unnest(range(0, 32)) AS b FROM h),
        |w AS (SELECT flag, x, b,
        |        (((h0 * 2654435761) % 2147483648 + b) * 2654435761)
        |          % 2147483648 % 1000 AS u
        |      FROM r),
        |wg AS (SELECT flag, x, b,
        |         CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
        |              WHEN u < 920 THEN 2 ELSE 3 END AS wgt
        |       FROM w),
        |mb AS (SELECT flag, b,
        |         CAST(SUM(CAST(wgt AS DECIMAL(19,4)) * x) AS DOUBLE) /
        |           CAST(SUM(wgt) AS DOUBLE) AS mean_b
        |       FROM wg GROUP BY 1, 2),
        |rk AS (SELECT flag, mean_b,
        |         row_number() OVER (PARTITION BY flag
        |           ORDER BY mean_b ASC, b ASC) AS rk
        |       FROM mb),
        |ci AS (SELECT flag,
        |         MIN(CASE WHEN rk = 2 THEN mean_b END) AS lo_ci,
        |         MIN(CASE WHEN rk = 31 THEN mean_b END) AS hi_ci
        |       FROM rk GROUP BY 1),
        |ov AS (SELECT flag,
        |         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean
        |       FROM li GROUP BY 1)
        |SELECT ov.flag, mean, lo_ci, hi_ci
        |FROM ov JOIN ci ON ov.flag = ci.flag
        |ORDER BY ov.flag""".stripMargin)
}

package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NGramGenerator

/** Corpus scoring / profiling operators for LLM training-data pipelines,
  * round 5: unigram-LM perplexity filtering, bigram co-occurrence (PMI)
  * mining, document-frequency stopword discovery, curriculum binning,
  * per-source weighted sampling, CDC keep-latest compaction, and
  * one-pass table profiling. All seven are oracle-checked.
  *
  * Determinism notes (SURVEY.md §2.C preamble applies):
  *   - Perplexity avoids transcendentals entirely: surprisal is the
  *     integer floor-log2 of the inverse token frequency, computed as
  *     `length(bin(N div c)) - 1` — exact int64 arithmetic on both
  *     engines (log/ln are NOT correctly-rounded and can differ in the
  *     last ulp across libm implementations; +, *, / on exact doubles
  *     are IEEE-correctly-rounded everywhere and ARE portable).
  *   - PMI is reported as lift = p(ab)/(p(a)p(b)) = 2^pmi (monotone in
  *     pmi, so the ranking is identical): one exact int64 product per
  *     side cast to double, one IEEE division. Products stay < 2^53 at
  *     test scale; at fleet scale (N ~ 1e12) the products overflow and
  *     the ranking moves to log space with an ulp tolerance.
  */
object Scoring extends QueryModule {

  private def toks: Column = split(col("text"), " ")

  /** Integer surprisal: floor(log2(nTotal / cnt)) via binary-string
    * length — no libm (log is not correctly rounded and differs across
    * engines). The inner quotient is one IEEE division of two exact
    * (< 2^53) integers + floor: both engines produce the identical
    * double, so the identical floor, so the identical bit length.
    */
  private[operators] def bits(nTotal: Column, cnt: Column): Column =
    (length(bin(floor(nTotal.cast("double") / cnt).cast("long"))) - 1)
      .cast("long")

  /** Per-type (mean, sigma) from integer-quantized moments — the stats
    * side shared by the batch z-score sweep (`q_anomaly_zscore`) and the
    * streamed stream-static anomaly gate (`q_streaming_anomaly`): one
    * definition so the quantization/sigma math can never diverge between
    * the two queries that claim the same oracle.
    */
  private[graft] def anomalyStats(s: SparkSession, d: String): DataFrame =
    table(s, d, "events")
      .select(col("event_type"), round(col("value"), 0).cast("long")
        .as("vq"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("sx"),
        sum(col("vq") * col("vq")).as("sxx"))
      .select(col("event_type"),
        (col("sx").cast("double") / col("n")).as("mean"),
        sqrt((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / col("n")).as("sigma"))

  /** DuckDB twin of the z-score sweep — shared verbatim by
    * `q_anomaly_zscore` and `q_streaming_anomaly` (the streamed gate is
    * deterministic, so it carries the identical oracle).
    */
  private[graft] val anomalyOracleSql: String =
    """WITH q AS (SELECT event_id, event_type, value,
      |             CAST(round(value, 0) AS BIGINT) AS vq FROM events),
      |st AS (SELECT event_type, COUNT(*) AS n,
      |         CAST(SUM(vq) AS BIGINT) AS sx,
      |         CAST(SUM(vq * vq) AS BIGINT) AS sxx
      |       FROM q GROUP BY event_type),
      |sp AS (SELECT event_type,
      |         CAST(sx AS DOUBLE) / n AS mean,
      |         sqrt((CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)
      |           AS sigma
      |       FROM st)
      |SELECT event_id, event_type, value,
      |  (CAST(vq AS DOUBLE) - mean) / sigma AS z
      |FROM q JOIN sp USING (event_type)
      |WHERE sigma > 0.0
      |  AND abs((CAST(vq AS DOUBLE) - mean) / sigma) > 3.0
      |ORDER BY event_id""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- t-score collocations (round 15): the hypothesis-test
    // companion to q_cooccur_pmi — t = (f_xy − f_x·f_y/N)/sqrt(f_xy)
    // over corpus bigrams with f_xy ≥ 5, the Church/Hanks measure that
    // (unlike PMI) doesn't blow up on rare pairs. Bigrams ride the
    // codegen'd NGramGenerator; counts are exact int64 off two
    // aggregates; t is ONE fixed IEEE tree (·, ÷, sqrt — no libm);
    // top-25 is a TakeOrdered with (t, gram) total order. ---
    "q_ngram_tscore" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val big = docs.select(NGramGenerator(toks, 2).alias("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= 5)
      val uni = docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val nTot = uni.agg(sum("c1").cast("long").as("n"))
      big
        .withColumn("w1", split(col("gram"), " ").getItem(0))
        .withColumn("w2", split(col("gram"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
        .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
        .crossJoin(broadcast(nTot))
        .select(col("gram"), col("c2"), col("cx"), col("cy"),
          ((col("c2").cast("double")
            - col("cx").cast("double") * col("cy").cast("double")
              / col("n").cast("double"))
            / sqrt(col("c2").cast("double"))).as("t_score"))
        .orderBy(col("t_score").desc, col("gram"))
        .limit(25)
    }),

    // --- unigram-LM perplexity proxy (quality filtering): score each
    // document by its mean token surprisal under the corpus's own
    // unigram model. Two aggregates + one join: token counts (shuffle
    // on token, map-side partial), then exploded tokens re-join the
    // vocab — the vocab side of that join is an aggregate output that
    // AQE sizes at runtime and broadcasts when it is small (always,
    // for a unigram vocab: even web-scale corpora hold ~1e8 distinct
    // tokens, GBs not TBs); the per-doc sum is then a map-side-partial
    // groupBy on doc_id. ---
    "q_perplexity" -> ((s, d) => {
      val ex = table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
      val vocab = ex.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = vocab.agg(sum(col("c")).as("n_total"))
      ex.join(vocab, "tok")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), bits(col("n_total"), col("c")).as("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("b")).as("sum_bits"))
        .select(col("doc_id"), col("n_tok"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_tok")).as("avg_bits"))
        .orderBy("doc_id")
    }),

    // --- bigram co-occurrence mining (collocations for tokenizer /
    // vocab construction): lift = N * c(ab) / (c(a) * c(b)), top 25
    // pairs with support >= 5. Bigram counts stream out of the
    // NGramGenerator (codegen'd, no intermediate gram arrays); the two
    // unigram joins hit the same AQE-broadcast vocab as q_perplexity.
    // The global top-25 is a TakeOrdered (orderBy+limit: per-partition
    // heaps + driver merge — the q_vocab_coverage discipline); the rank
    // column derives from a window over the 25 survivors only, so no
    // task ever sorts the support-filtered bigram relation (which is
    // vocabulary-sized at fleet scale). ---
    "q_cooccur_pmi" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val uni = docs.select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val tot = uni.agg(sum(col("c1")).as("n_total"))
      val bi = docs.select(NGramGenerator(toks, 2).alias("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= 5)
        .select(let(split(col("gram"), " ")) { ws =>
          struct(element_at(ws, 1).as("w1"), element_at(ws, 2).as("w2"))
        }.as("ws"), col("c2"))
        .select(col("ws.w1").as("w1"), col("ws.w2").as("w2"), col("c2"))
      val ua = uni.select(col("tok").as("w1"), col("c1").as("ca"))
      val ub = uni.select(col("tok").as("w2"), col("c1").as("cb"))
      val scored = bi.join(ua, "w1").join(ub, "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c2"),
          ((col("c2") * col("n_total")).cast("double") /
            (col("ca") * col("cb")).cast("double")).as("lift"))
      val top = scored
        .orderBy(col("lift").desc, col("w1"), col("w2")).limit(25)
      val w = Window.orderBy(col("lift").desc, col("w1"), col("w2"))
      top.withColumn("rn", row_number().over(w).cast("long"))
        .orderBy("rn")
    }),

    // --- document-frequency stopword discovery: tokens present in
    // >= 50% of documents. Per-doc distinct is an ARRAY op before the
    // explode (map-side; never a global (doc, token) distinct
    // shuffle), the groupBy is on the token, and the corpus size joins
    // in as a broadcast scalar. ---
    "q_df_stopwords" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      docs.select(explode(array_distinct(toks)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("tok"), col("df"),
          (col("df").cast("double") / col("n_docs")).as("df_ratio"))
        .filter(col("df_ratio") >= 0.5)
        .orderBy("tok")
    }),

    // --- curriculum binning: decile buckets over document length for
    // length-staged training schedules. The global ntile(10) window is
    // GONE: exact global ranks come from the q_dense_ids bucketed
    // spelling — bucket on (n_tok, doc_id div 2^20) (contiguous in the
    // (n_tok, doc_id) total order), one aggregate counts each bucket,
    // an exclusive prefix-sum over the O(distinct lengths × id ranges)
    // boundary relation yields broadcast offsets, and row_number runs
    // PARTITIONED per bucket — then ntile's published tile formula
    // (first n%10 tiles get ceil(n/10) rows) maps rank→bin in exact
    // integer arithmetic. Bit-identical to the single-window ntile at
    // any partition count; no task ever sorts the corpus. ---
    "q_curriculum_bins" -> ((s, d) => {
      val t = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), lng(size(toks)).as("n_tok"))
        .withColumn("idr", expr("doc_id div 1048576"))
      val wb = Window.orderBy(col("n_tok"), col("idr"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = t.groupBy("n_tok", "idr").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum("cnt").over(wb), lit(0L)))
        .select("n_tok", "idr", "off")
      val n1 = t.agg(count(lit(1)).as("n"))
      val wr = Window.partitionBy("n_tok", "idr").orderBy("doc_id")
      // ntile(10): q = n div 10 rows per tile, the first r = n mod 10
      // tiles take one extra row — rank→bin is a two-branch integer
      // CASE on the (q+1)-row boundary r·(q+1).
      t.join(broadcast(offs), Seq("n_tok", "idr"))
        .withColumn("rk", col("off") + row_number().over(wr))
        .crossJoin(broadcast(n1))
        .withColumn("bin", expr(
          """CASE WHEN rk <= (n % 10) * (n div 10 + 1)
            |  THEN (rk - 1) div (n div 10 + 1) + 1
            |  ELSE n % 10
            |    + (rk - (n % 10) * (n div 10 + 1) - 1) div (n div 10) + 1
            |END""".stripMargin).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
          avgd(col("n_chars")).as("avg_chars"))
        .orderBy("bin")
    }),

    // --- per-source weighted sampling (training-mix downsampling):
    // keep a deterministic p-fraction of each source (p = 0.25 / 0.5 /
    // 0.75 by source id) by comparing the first md5 byte of the doc id
    // against a per-source hex threshold — a pure map-side filter, no
    // shuffle, no RNG, reproducible across engines and reruns. The
    // same shape scales to per-domain quality weights: the threshold
    // becomes a column joined in from a (small, broadcast) policy
    // table. ---
    "q_sample_weighted" -> ((s, d) => {
      val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
      val thresh = when(srcNum % 3 === 0, "40")
        .when(srcNum % 3 === 1, "80").otherwise("c0")
      val gate = substring(
        md5(concat(lit("smp"), col("doc_id").cast("string"))), 1, 2)
      table(s, d, "documents")
        .select(col("doc_id"), col("source"), gate.as("gate"),
          thresh.as("thresh"))
        .filter(col("gate") < col("thresh"))
        .orderBy("doc_id")
    }),

    // --- CDC keep-latest compaction: one surviving row per
    // (user_id, event_type) — the log-compaction / snapshot read of a
    // change stream. Reads the user_id-bucketed event log
    // (Advanced.eventsByUser): the scan's bucket layout already
    // satisfies the window's clustering, so the plan has ZERO hash
    // exchange (plan-pinned) — per-partition sort, rank-1 filter; ties
    // on ts break on event_id for a total order. At fleet scale the
    // change log is bucketed once at ingest and every compaction read
    // stops paying the shuffle; nothing is ever globally sorted. ---
    "q_keep_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Advanced.eventsByUser(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          fmtTs(col("ts")).as("last_ts"), col("event_id"), col("value"))
        .orderBy("user_id", "event_type")
    }),

    // --- incremental aggregation (partial-aggregate merge): combine a
    // precomputed aggregate state (history before the split date) with
    // a freshly aggregated delta batch — the warehouse incremental
    // pattern that avoids rescanning history every run. Both sides
    // reduce to per-key partials BEFORE the merge, so the
    // union + re-aggregate moves |keys| rows, not data; at fleet scale
    // the state side is a tiny stored table and only the delta touches
    // raw data. Decimal partial sums make the merge order-independent
    // (the same property Spark's own partial aggregation relies on);
    // the result provably equals the full-table aggregate (pinned in
    // tests). ---
    "q_incremental_agg" -> ((s, d) => {
      val o = table(s, d, "orders")
      val split = lit("1997-01-01").cast("timestamp")
      def partial(df: DataFrame): DataFrame =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("psum"))
      val state = partial(o.filter(col("o_orderdate") < split))
      val delta = partial(o.filter(col("o_orderdate") >= split))
      state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(sum(col("n")).as("n"), sum(col("psum")).cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    // --- table profiling (data-quality sweep): null count, exact
    // distinct count, min/max per column of `orders`, one output row
    // per column. Deliberately NOT the single-pass multi-COUNT-
    // DISTINCT spelling: that plans a |columns|+1-way Expand and then
    // a SORT aggregate keyed on every profiled column at once (string
    // buffers disqualify hash aggregation) — measured 3 s at sf0.1 and
    // a rows x columns blow-up through a wide sort at fleet scale.
    // Instead each column gets its own two-phase aggregate — group-by
    // the column (hash agg, map-side partial), then fold the DISTINCT
    // VALUES relation into (nonnull, distinct, min, max) — unioned
    // into one plan/job. Columnar parquet makes 6 single-column scans
    // read exactly the same bytes as one 6-column scan; min/max over
    // strings sort-aggregates only the distinct-value relation.
    // Min/max render through the house deterministic casts (decimal
    // for doubles, fmtTs for timestamps). At fleet scale the exact
    // distincts downgrade to HLL (q_agg_hll is the building block) —
    // the profile shape is identical. ---
    "q_profile_table" -> ((s, d) => {
      val o = table(s, d, "orders")
      def branch(name: String, render: Column => Column): DataFrame = {
        val c = col(name)
        // cnt is 0 for the all-null group (COUNT(c) skips nulls), so
        // the plain SUM is the non-null row count
        o.select(c).groupBy(c).agg(count(c).as("cnt"))
          .agg(sum(col("cnt")).as("nn"), count(c).as("nd"),
            render(min(c)).as("mn"), render(max(c)).as("mx"))
          .select(lit(name).as("column_name"),
            col("nn").cast("long").as("n_nonnull"),
            col("nd").as("n_distinct"),
            col("mn").as("min_val"), col("mx").as("max_val"))
      }
      branch("o_orderkey", _.cast("string"))
        .unionByName(branch("o_custkey", _.cast("string")))
        .unionByName(branch("o_orderstatus", identity))
        .unionByName(branch("o_totalprice", c => dec(c).cast("string")))
        .unionByName(branch("o_orderdate", fmtTs))
        .unionByName(branch("o_orderpriority", identity))
        .orderBy("column_name")
    }),

    // --- per-group z-score anomaly detection: flag events whose value
    // sits more than 3 population-sigmas from its event-type mean — the
    // metric-outlier sweep run over telemetry before it trains anything.
    // Two-pass shape that scales: pass 1 reduces the table to ONE tiny
    // stats row per type (integer-quantized moments, exact int64 sums —
    // the q_agg_stats discipline: sum(vq^2) stays under 2^63 through
    // ~10^12 rows at these magnitudes, then the partials switch to
    // DECIMAL(38,0), same shape); pass 2 re-scans with the stats
    // BROADCAST, so the outlier test is a map-side filter — no shuffle
    // ever touches event rows. mean/sigma are exact-int-derived doubles;
    // z is two IEEE ops (sub, div) on them — identical in both engines.
    "q_anomaly_zscore" -> ((s, d) => {
      val q = table(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("value"), 0).cast("long").as("vq"))
      q.join(broadcast(anomalyStats(s, d)), "event_type")
        .withColumn("z", (col("vq").cast("double") - col("mean"))
          / col("sigma"))
        // sigma guard: a zero-variance group would make z NaN/Inf, and
        // NaN comparison semantics differ across engines — a degenerate
        // group has no outliers by definition, so gate it out explicitly
        .filter(col("sigma") > 0.0 && abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy("event_id")
    }),

    // --- A/B two-sample Welch t-test (round 6): the experiment-readout
    // primitive — does 'click' value differ from 'view' value? ONE
    // conditional-sum aggregate reduces both arms to six exact int64
    // moments in a single pass (no per-arm subqueries, no second scan),
    // then mean/variance/t/Welch-df are driver-scale double arithmetic
    // written as the identical formula tree in the oracle. Population
    // variances from quantized moments, one sqrt — deterministic like
    // q_agg_stats. ---
    "q_ab_ttest" -> ((s, d) => {
      val q = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          round(col("value"), 0).cast("long").as("vq"))
      def arm(t: String, nm: String) = Seq(
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$nm"),
        sum(when(col("event_type") === t, col("vq")).otherwise(0L))
          .as(s"sx$nm"),
        sum(when(col("event_type") === t, col("vq") * col("vq"))
          .otherwise(0L)).as(s"sxx$nm"))
      val cols = arm("click", "1") ++ arm("view", "2")
      val m1 = col("sx1").cast("double") / col("n1")
      val m2 = col("sx2").cast("double") / col("n2")
      val v1 = col("sxx1").cast("double") / col("n1") - m1 * m1
      val v2 = col("sxx2").cast("double") / col("n2") - m2 * m2
      val se1 = v1 / col("n1")
      val se2 = v2 / col("n2")
      q.agg(cols.head, cols.tail: _*)
        .select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
          ((m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
          (((se1 + se2) * (se1 + se2)) /
            (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
            .as("df"))
    }),

    // --- TOST equivalence test (round 16): the inverted question
    // q_ab_ttest cannot answer — failing to reject "different" is NOT
    // evidence of "the same"; TOST declares the click/view means
    // EQUIVALENT only if both one-sided tests reject at the ±δ = 10
    // margin (the two-one-sided-tests contract every launch-safety
    // review wants). Same exact int64 arm moments and Welch standard
    // error as q_ab_ttest (one conditional-sum pass); the two t's and
    // the 1.645 normal gate (documented approximation) are fixed
    // terminal trees. ---
    "q_tost" -> ((s, d) => {
      val q = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          round(col("value"), 0).cast("long").as("vq"))
      def arm(t: String, nm: String) = Seq(
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$nm"),
        sum(when(col("event_type") === t, col("vq")).otherwise(0L))
          .as(s"sx$nm"),
        sum(when(col("event_type") === t, col("vq") * col("vq"))
          .otherwise(0L)).as(s"sxx$nm"))
      val cols = arm("click", "1") ++ arm("view", "2")
      val m1 = col("sx1").cast("double") / col("n1")
      val m2 = col("sx2").cast("double") / col("n2")
      val v1 = col("sxx1").cast("double") / col("n1") - m1 * m1
      val v2 = col("sxx2").cast("double") / col("n2") - m2 * m2
      val se = sqrt(v1 / col("n1") + v2 / col("n2"))
      val tLo = (m1 - m2 + lit(10.0)) / se
      val tHi = (m1 - m2 - lit(10.0)) / se
      q.agg(cols.head, cols.tail: _*)
        .select(col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
          tLo.as("t_lower"), tHi.as("t_upper"),
          (tLo > 1.645 && tHi < -1.645).as("equivalent"))
    }),

    // --- per-source quality gating: keep each source's top half by
    // document length. Quality thresholds must be RELATIVE per source
    // (a fixed global cutoff would drop whole low-verbosity sources),
    // so the rank is a window partitioned by source — fully parallel
    // across sources, one shuffle, per-partition sort only. percent_rank
    // = (rank-1)/(n-1) over the unique key (n_chars, doc_id) is one
    // IEEE division of two small exact ints — identical in both
    // engines. At fleet scale an approx-quantile threshold per source
    // (computed like q_curriculum_bins' fleet path) replaces the full
    // window sort; the gate itself stays a map-side filter. ---
    "q_quality_gate" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
      table(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.5)
        .orderBy("doc_id")
    }),

    // --- compression-ratio quality signal (Kolmogorov proxy), round-13
    // portable re-spec: the REGISTERED output is the distinct-8-token-
    // gram ratio — a dictionary-compressibility estimate both engines
    // compute exactly (integer gram counts + one IEEE division), so the
    // query carries a full DuckDB oracle instead of the former rows-only
    // floor. Repetitive/template docs reuse 8-grams and score low;
    // high-entropy prose scores near 1 — the same ordering signal the
    // DEFLATE length gave (Gopher-style repetition filters use exactly
    // these n-gram duplicate fractions). Pure map-side projection — the
    // gram array never leaves its row, no shuffle at any scale. The
    // native Deflater diagnostic (functions/DeflateLen.scala) stays in
    // the library for users who want true DEFLATE bytes — it is not
    // DuckDB-expressible, so FunctionsPropertySpec pins its semantics
    // (determinism, entropy ordering, bounds) instead of the oracle;
    // see SURVEY §2.C. Docs under 8 tokens have no grams: null-guarded
    // ratio, not NaN (and ANSI Spark would throw on the int 0). ---
    "q_compress_ratio" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long")
          .as("raw_len"),
          let(split(col("text"), " ")) { tk =>
            when(size(tk) >= 8,
              transform(sequence(lit(1), size(tk) - 7),
                i => concat_ws(" ",
                  (0 to 7).map(o => element_at(tk, i + o)): _*)))
              .otherwise(array().cast("array<string>"))
          }.as("sh"))
        .select(col("doc_id"), col("raw_len"),
          lng(size(col("sh"))).as("n_grams"),
          lng(size(array_distinct(col("sh")))).as("n_distinct"))
        .withColumn("distinct_ratio",
          when(col("n_grams") > 0,
            col("n_distinct").cast("double") / col("n_grams")))
        .orderBy("doc_id")),

    // --- bigram-LM perplexity (conditional surprisal): upgrade of
    // q_perplexity's unigram model — each bigram (prev, tok) costs
    // floor(log2(c1(prev) / c2(prev, tok))) bits, the MLE conditional
    // with the unigram-context denominator. Same determinism spelling
    // (integer floor-log2, no libm) and the same two-aggregate shape:
    // bigram counts stream out of the codegen'd NGramGenerator, the
    // unigram/bigram vocab joins are AQE-broadcast, the per-doc sum is
    // map-side-partial. Short docs (< 2 tokens) produce no bigrams and
    // drop out identically in both engines. ---
    "q_ngram_lm" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val g = docs.select(col("doc_id"),
        NGramGenerator(toks, 2).alias("gram"))
      val c2 = g.groupBy("gram").agg(count(lit(1)).as("c2"))
      val uni = docs.select(explode(toks).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      g.join(c2, "gram")
        .withColumn("w1", split(col("gram"), " ").getItem(0))
        .join(uni, "w1")
        .select(col("doc_id"), bits(col("c1"), col("c2")).as("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("b")).as("sum_bits"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_bigrams")).as("avg_bits"))
        .orderBy("doc_id")
    }),

    // --- SCD2 validity intervals (temporal versioning): turn the
    // per-key change history into [eff_start, eff_end) rows, open end =
    // current version — the warehouse-dimension twin of q_keep_latest
    // (which keeps only the final row). One shuffle on the key, a
    // per-partition sort, lead() closes each interval at its
    // successor's start. Like q_keep_latest it reads the
    // user_id-bucketed event log, so the window's exchange vanishes —
    // the versioned-dimension build becomes a scan + local sort. ---
    "q_scd2_intervals" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      Advanced.eventsByUser(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), col("ts"))
        .withColumn("eff_end", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), fmtTs(col("ts")).as("eff_start"),
          fmtTs(col("eff_end")).as("eff_end"),
          col("eff_end").isNull.as("is_current"))
        .orderBy("user_id", "event_type", "eff_start", "event_id")
    }),

    // --- incremental SCD2 APPLY: merge a change batch (events on or
    // after the cutover) into an existing SCD2 dimension (versions
    // built from events before it) — the maintenance operation
    // q_scd2_intervals only does as a full rebuild. Closed base
    // versions pass through untouched; each key's OPEN version closes
    // at the key's first batch timestamp (one keyed min-aggregate
    // joined back — never a re-sort of history); batch versions chain
    // among THEMSELVES with one lead window over the batch only. The
    // invariant that makes it correct (and the test pin): apply(base,
    // batch) == rebuild over the full history, so this query carries
    // the identical full-history oracle. Incremental cost is
    // O(batch + open versions), not O(history). ---
    "q_scd2_apply" -> ((s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val ev = Advanced.eventsByUser(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), col("ts"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val base = ev.filter(col("ts") < cut)
        .withColumn("eff_end", lead(col("ts"), 1).over(w))
      val batch = ev.filter(col("ts") >= cut)
      val firstNew = batch.groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("first_new"))
      val closedBase = base.filter(col("eff_end").isNotNull)
      val openBase = base.filter(col("eff_end").isNull)
        .drop("eff_end")
        .join(firstNew, Seq("user_id", "event_type"), "left")
        .withColumn("eff_end", col("first_new")).drop("first_new")
      val newVers = batch.withColumn("eff_end", lead(col("ts"), 1).over(w))
      closedBase.unionByName(openBase).unionByName(newVers)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), fmtTs(col("ts")).as("eff_start"),
          fmtTs(col("eff_end")).as("eff_end"),
          col("eff_end").isNull.as("is_current"))
        .orderBy("user_id", "event_type", "eff_start", "event_id")
    }),

    // --- SCD2 dimension LOOKUP (the consuming half of
    // q_scd2_intervals): which profile version was in effect for each
    // fact — every purchase resolved against the user's latest
    // preceding view version. Spelled as a ZERO-JOIN merge pass:
    // facts and version rows are the same user-bucketed stream, so ONE
    // per-user window carries the last view's (id, value) forward onto
    // each purchase row — no interval join, no interval explosion, no
    // second shuffle; at 100 TB this rides the bucketed event layout
    // with window state of one carried row per user. The interval-
    // containment spelling (fact BETWEEN eff_start AND eff_end) is the
    // semantic twin; the brute-force latest-prior re-derivation is
    // pinned in tests. Ties at equal ts resolve by event_id on both
    // engines (the stream's total order). ---
    "q_scd2_lookup" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Advanced.eventsByUser(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
      ev
        .withColumn("ver_id",
          last(when(col("event_type") === "view", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("ver_value",
          last(when(col("event_type") === "view", col("value")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" &&
          col("ver_id").isNotNull)
        .select(col("user_id"), col("event_id").as("purchase_id"),
          fmtTs(col("ts")).as("purchase_ts"), col("ver_id"),
          col("ver_value"))
        .orderBy("user_id", "purchase_id")
    }),

    // --- deterministic k-per-source uniform sample: md5-of-key as the
    // priority, kept by the custom bounded TypedImperativeAggregate
    // (functions/ReservoirTopK.scala). The window spelling
    // (row_number() <= k, which the oracle uses) shuffles and sorts the
    // ENTIRE corpus; the aggregate's map-side partials bound every
    // buffer at k rows, so shuffle volume is O(sources * k) — the only
    // shape that holds when one source is 100 TB. ---
    "q_sample_reservoir" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("pri"))
        .groupBy("source")
        .agg(graft.functions.ReservoirTopK(col("pri"), col("doc_id"), 5)
          .as("sample"))
        .select(col("source"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
          col("doc_id"))
        .orderBy("source", "rn"))
  )

  /** DuckDB twin of one profile row. */
  private def profileRowSql(c: String, render: String => String): String =
    s"""SELECT '$c' AS column_name,
       |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
       |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  ${render(s"MIN($c)")} AS min_val,
       |  ${render(s"MAX($c)")} AS max_val
       |FROM orders""".stripMargin
  private def vc(e: String): String = s"CAST($e AS VARCHAR)"
  private def vcDec(e: String): String =
    s"CAST(CAST($e AS DECIMAL(18,4)) AS VARCHAR)"

  override def oracle: Map[String, String] = Map(

    "q_ngram_tscore" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT unnest(list_transform(
        |        range(1, greatest(len(tk) - 1, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1])) AS gram FROM t),
        |c2 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM g GROUP BY 1 HAVING COUNT(*) >= 5),
        |u AS (SELECT unnest(tk) AS w FROM t),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        |        FROM u GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni)
        |SELECT gram, c2, ux.c1 AS cx, uy.c1 AS cy,
        |  (CAST(c2 AS DOUBLE)
        |    - CAST(ux.c1 AS DOUBLE) * CAST(uy.c1 AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    / sqrt(CAST(c2 AS DOUBLE)) AS t_score
        |FROM c2
        |JOIN uni ux ON ux.w = string_split(gram, ' ')[1]
        |JOIN uni uy ON uy.w = string_split(gram, ' ')[2]
        |CROSS JOIN n
        |ORDER BY t_score DESC, gram LIMIT 25""".stripMargin,

    // round 13: full oracle for the re-specced portable proxy — the
    // former DeflateLen output was the library's one no-oracle row
    "q_compress_ratio" ->
      """WITH t AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_len,
        |             string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, raw_len,
        |        CASE WHEN len(tk) >= 8 THEN list_transform(
        |          range(1, len(tk) - 6),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
        |            || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' '
        |            || tk[i+6] || ' ' || tk[i+7])
        |        ELSE [] END AS sh
        |      FROM t)
        |SELECT doc_id, raw_len,
        |  CAST(len(sh) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(sh) > 0
        |    THEN CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) END
        |    AS distinct_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_ab_ttest" -> {
      val vq = "CAST(round(value, 0) AS BIGINT)"
      def arm(t: String) = (
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)",
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN $vq ELSE 0 END) AS BIGINT)",
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN $vq * $vq ELSE 0 END) AS BIGINT)")
      val (n1, sx1, sxx1) = arm("click")
      val (n2, sx2, sxx2) = arm("view")
      val m1 = s"(CAST($sx1 AS DOUBLE) / $n1)"
      val m2 = s"(CAST($sx2 AS DOUBLE) / $n2)"
      val v1 = s"(CAST($sxx1 AS DOUBLE) / $n1 - $m1 * $m1)"
      val v2 = s"(CAST($sxx2 AS DOUBLE) / $n2 - $m2 * $m2)"
      val se1 = s"($v1 / $n1)"
      val se2 = s"($v2 / $n2)"
      s"""SELECT $n1 AS n1, $n2 AS n2, $m1 AS mean1, $m2 AS mean2,
         |  (($m1 - $m2) / sqrt($se1 + $se2)) AS t_stat,
         |  ((($se1 + $se2) * ($se1 + $se2)) /
         |   ($se1 * $se1 / ($n1 - 1) + $se2 * $se2 / ($n2 - 1))) AS df
         |FROM events WHERE event_type IN ('click', 'view')""".stripMargin
    },

    "q_tost" -> {
      val vq = "CAST(round(value, 0) AS BIGINT)"
      def arm(t: String) = (
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)",
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN $vq ELSE 0 END) AS BIGINT)",
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN $vq * $vq ELSE 0 END) AS BIGINT)")
      val (n1, sx1, sxx1) = arm("click")
      val (n2, sx2, sxx2) = arm("view")
      val m1 = s"(CAST($sx1 AS DOUBLE) / $n1)"
      val m2 = s"(CAST($sx2 AS DOUBLE) / $n2)"
      val v1 = s"(CAST($sxx1 AS DOUBLE) / $n1 - $m1 * $m1)"
      val v2 = s"(CAST($sxx2 AS DOUBLE) / $n2 - $m2 * $m2)"
      val se = s"sqrt($v1 / $n1 + $v2 / $n2)"
      s"""SELECT $n1 AS n1, $n2 AS n2, $m1 AS mean1, $m2 AS mean2,
         |  (($m1 - $m2 + 10.0) / $se) AS t_lower,
         |  (($m1 - $m2 - 10.0) / $se) AS t_upper,
         |  ((($m1 - $m2 + 10.0) / $se) > 1.645
         |    AND (($m1 - $m2 - 10.0) / $se) < -1.645) AS equivalent
         |FROM events WHERE event_type IN ('click', 'view')""".stripMargin
    },

    "q_anomaly_zscore" -> anomalyOracleSql,

    "q_perplexity" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |v AS (SELECT tok, COUNT(*) AS c FROM e GROUP BY tok),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM v),
        |sc AS (SELECT doc_id,
        |         CAST(length(bin(CAST(floor(CAST(n_total AS DOUBLE) / c)
        |           AS BIGINT))) - 1 AS BIGINT) AS b
        |       FROM e JOIN v USING (tok) CROSS JOIN t)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(b) AS BIGINT) AS sum_bits,
        |  CAST(SUM(b) AS DOUBLE) / COUNT(*) AS avg_bits
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_cooccur_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |e AS (SELECT unnest(tk) AS tok FROM t),
        |u AS (SELECT tok, COUNT(*) AS c1 FROM e GROUP BY tok),
        |tt AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_total FROM u),
        |g AS (SELECT unnest(list_transform(
        |        range(1, greatest(len(tk) - 1, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1])) AS gram FROM t),
        |b AS (SELECT string_split(gram, ' ')[1] AS w1,
        |             string_split(gram, ' ')[2] AS w2, COUNT(*) AS c2
        |      FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |sc AS (SELECT w1, w2, c2,
        |         CAST(c2 * n_total AS DOUBLE)
        |           / CAST(u1.c1 * u2.c1 AS DOUBLE) AS lift
        |       FROM b JOIN u u1 ON u1.tok = w1
        |              JOIN u u2 ON u2.tok = w2
        |              CROSS JOIN tt),
        |r AS (SELECT w1, w2, c2, lift,
        |        CAST(row_number() OVER (ORDER BY lift DESC, w1, w2)
        |          AS BIGINT) AS rn
        |      FROM sc)
        |SELECT w1, w2, c2, lift, rn FROM r WHERE rn <= 25
        |ORDER BY rn""".stripMargin,

    "q_df_stopwords" ->
      """WITH e AS (SELECT doc_id,
        |             unnest(list_distinct(string_split(text, ' '))) AS tok
        |           FROM documents),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |f AS (SELECT tok, COUNT(*) AS df FROM e GROUP BY tok)
        |SELECT tok, df, CAST(df AS DOUBLE) / n_docs AS df_ratio
        |FROM f CROSS JOIN n
        |WHERE CAST(df AS DOUBLE) / n_docs >= 0.5
        |ORDER BY tok""".stripMargin,

    "q_curriculum_bins" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |           FROM documents),
         |b AS (SELECT *, CAST(ntile(10) OVER (ORDER BY n_tok, doc_id)
         |        AS BIGINT) AS bin FROM t)
         |SELECT bin, COUNT(*) AS n_docs,
         |  MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
         |  ${A("n_chars")} AS avg_chars
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q_sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    substring(md5(concat('smp', CAST(doc_id AS VARCHAR))), 1, 2)
        |      AS gate,
        |    CASE CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3
        |      WHEN 0 THEN '40' WHEN 1 THEN '80' ELSE 'c0' END AS thresh
        |  FROM documents)
        |SELECT doc_id, source, gate, thresh FROM t
        |WHERE gate < thresh ORDER BY doc_id""".stripMargin,

    "q_keep_latest" ->
      s"""SELECT user_id, event_type, ${FT("ts")} AS last_ts, event_id, value
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY user_id, event_type
         |        ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM events)
         |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_incremental_agg" ->
      """WITH st AS (SELECT o_orderpriority, COUNT(*) AS n,
        |              SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS psum
        |            FROM orders
        |            WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1),
        |dl AS (SELECT o_orderpriority, COUNT(*) AS n,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS psum
        |       FROM orders
        |       WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1),
        |u AS (SELECT * FROM st UNION ALL SELECT * FROM dl)
        |SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(psum) AS DOUBLE) AS total
        |FROM u GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_profile_table" -> Seq(
      profileRowSql("o_orderkey", vc),
      profileRowSql("o_custkey", vc),
      profileRowSql("o_orderstatus", e => e),
      profileRowSql("o_totalprice", vcDec),
      profileRowSql("o_orderdate", e => s"strftime($e, '%Y-%m-%d %H:%M:%S.%f')"),
      profileRowSql("o_orderpriority", e => e)
    ).mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "q_quality_gate" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    percent_rank() OVER (PARTITION BY source
        |                         ORDER BY n_chars, doc_id) AS pr
        |  FROM documents)
        |SELECT doc_id, source, n_chars, pr
        |FROM r WHERE pr >= 0.5 ORDER BY doc_id""".stripMargin,

    "q_ngram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(tk) - 1, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1])) AS gram FROM t),
        |c2 AS (SELECT gram, COUNT(*) AS c2 FROM g GROUP BY gram),
        |u AS (SELECT unnest(tk) AS w1 FROM t),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM u GROUP BY w1),
        |sc AS (SELECT doc_id,
        |         CAST(length(bin(CAST(floor(CAST(c1 AS DOUBLE) / c2)
        |           AS BIGINT))) - 1 AS BIGINT) AS b
        |       FROM g JOIN c2 USING (gram)
        |       JOIN c1 ON c1.w1 = string_split(g.gram, ' ')[1])
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(b) AS BIGINT) AS sum_bits,
        |  CAST(SUM(b) AS DOUBLE) / COUNT(*) AS avg_bits
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_scd2_intervals" ->
      s"""SELECT user_id, event_type, event_id, value,
         |  ${FT("ts")} AS eff_start,
         |  ${FT("lead(ts, 1) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)")}
         |    AS eff_end,
         |  (lead(ts, 1) OVER (PARTITION BY user_id, event_type
         |                     ORDER BY ts, event_id) IS NULL) AS is_current
         |FROM events
         |ORDER BY user_id, event_type, eff_start, event_id""".stripMargin,

    // apply(base, batch) == rebuild over the full history, so the
    // incremental MERGE carries the identical full-history oracle
    "q_scd2_apply" ->
      s"""SELECT user_id, event_type, event_id, value,
         |  ${FT("ts")} AS eff_start,
         |  ${FT("lead(ts, 1) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)")}
         |    AS eff_end,
         |  (lead(ts, 1) OVER (PARTITION BY user_id, event_type
         |                     ORDER BY ts, event_id) IS NULL) AS is_current
         |FROM events
         |ORDER BY user_id, event_type, eff_start, event_id""".stripMargin,

    "q_scd2_lookup" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, event_id, ts, value FROM events
         |  WHERE event_type IN ('view', 'purchase')),
         |c AS (
         |  SELECT user_id, event_type, event_id, ts,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END
         |      IGNORE NULLS) OVER w AS ver_id,
         |    last_value(CASE WHEN event_type = 'view' THEN value END
         |      IGNORE NULLS) OVER w AS ver_value
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id AS purchase_id,
         |  ${FT("ts")} AS purchase_ts, ver_id, ver_value
         |FROM c WHERE event_type = 'purchase' AND ver_id IS NOT NULL
         |ORDER BY user_id, purchase_id""".stripMargin,

    "q_sample_reservoir" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id
        |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin
  )
}

package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Data-quality validation & corpus-pipeline operators (round 8): the
  * expectation-suite audit, row-level quarantine, ANALYZE-style
  * equi-width histograms, stream freshness lag, a Zipf-law fit over the
  * vocabulary, and the end-to-end curation-funnel readout. All six carry
  * full DuckDB oracles.
  *
  * Determinism: every count is an exact int64; each query performs at
  * most one terminal FP division (fail rate / coverage pct) or reuses
  * the integer floor-log2 device (`length(bin(x)) - 1`, identical on
  * both engines) for the log-log regression; histogram bin edges are
  * pure int64 arithmetic (`div`), never FP binning.
  */
object Validation extends QueryModule {

  /** Integer floor(log2 v) for v >= 1 — the Scoring.bits device without
    * the quotient (rank/frequency are already integers here).
    */
  private def ilog2(c: Column): Column =
    (length(bin(c)) - 1).cast("long")

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- expectation-suite audit (the Great-Expectations shape): a
      // declared set of table constraints — domain membership, range,
      // non-null, key uniqueness, referential integrity — each reported
      // as (checked, failed, rate, pass/fail). Everything except the two
      // key checks rides ONE conditional-aggregate pass over the fact
      // table (map-side partials, no per-rule scans); uniqueness is the
      // same pass's COUNT DISTINCT; the RI rule is a single left-anti
      // join against the dimension — at 100 TB the audit costs one scan
      // plus one keyed shuffle, not |rules| scans. when().otherwise()
      // gives identical NULL semantics on both engines (a NULL status
      // fails the domain check rather than vanishing from it). ---
      "q_expect_audit" -> ((s, d) => {
        val o = table(s, d, "orders")
        val base = o.agg(
          count(lit(1)).as("n"),
          sum(when(col("o_totalprice") > 0, 0L).otherwise(1L))
            .as("f_price"),
          sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L)
            .otherwise(1L)).as("f_status"),
          sum(when(col("o_orderdate") >= lit("1992-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1999-01-01").cast("timestamp"),
            0L).otherwise(1L)).as("f_date"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("f_null"),
          (count(lit(1)) - count_distinct(col("o_orderkey"))).as("f_dup"))
        val orphan = o
          .join(table(s, d, "customer").select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("f_orphan"))
        base.crossJoin(orphan)
          .selectExpr("""stack(6,
            'custkey_in_customer',   n, f_orphan,
            'custkey_not_null',      n, f_null,
            'orderdate_in_range',    n, f_date,
            'orderkey_unique',       n, f_dup,
            'orderstatus_in_domain', n, f_status,
            'totalprice_positive',   n, f_price
          ) AS (expectation, n_checked, n_failed)""")
          .withColumn("fail_rate",
            col("n_failed").cast("double") / col("n_checked"))
          .withColumn("status",
            when(col("n_failed") === 0, "pass").otherwise("fail"))
          .orderBy("expectation")
      }),

      // --- row-level quarantine (the dead-letter shape): documents a
      // curation run would EXCLUDE, each with the comma-joined list of
      // every rule it trips — the reviewable reject file, not just a
      // count. Pure map-side: each rule is a when() over row-local
      // columns and concat_ws drops the NULLs of rules that pass, so
      // the quarantine costs exactly one scan at any scale and the
      // output is O(rejects). ---
      "q_dq_quarantine" -> ((s, d) => {
        val flagged = table(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("reasons", concat_ws(",",
            when(col("n_tokens") < 20, lit("too_short")),
            when(col("n_chars") > 500, lit("over_long")),
            when(col("lang") === "zh", lit("unsupported_lang"))))
          .filter(col("reasons") =!= "")
        flagged
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("n_tokens"), col("reasons"))
          .orderBy("doc_id")
      }),

      // --- ANALYZE-style equi-width histograms: per-source 16-bin
      // histogram of document length — the optimizer-statistics build
      // (selectivity estimation, skew detection) every engine runs over
      // its catalogs. Two passes by construction (bounds, then bins):
      // the per-source (lo, hi) relation is O(sources) and broadcasts
      // back into a map-side bin computation, so the corpus shuffles
      // once, keyed on (source, bin). Bin edges are exact int64
      // arithmetic — (v-lo)*16 div (hi-lo+1) — never FP, so bucket
      // assignment is engine-independent. ---
      "q_histogram_equiwidth" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("source"), col("n_chars"))
        val rng = docs.groupBy("source")
          .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
        docs.join(broadcast(rng), "source")
          .withColumn("bin",
            expr("((n_chars - lo) * 16) div (hi - lo + 1)"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            min("lo").as("lo"), min("hi").as("hi"))
          // exact inverse of the bin assignment: v lands in bin b iff
          // v >= lo + ceil(b*W/16), so the edges use ceiling division
          // ((x + 15) div 16) — floor edges would misplace boundary
          // values by one bin
          .select(col("source"), col("bin"),
            expr("lo + (bin * (hi - lo + 1) + 15) div 16").as("bin_lo"),
            expr("lo + ((bin + 1) * (hi - lo + 1) + 15) div 16 - 1")
              .as("bin_hi"),
            col("n_docs"))
          .orderBy("source", "bin")
      }),

      // --- stream freshness audit: per event type, how far its latest
      // event lags the newest event anywhere, and its volume inside the
      // trailing 24 h of stream time — the staleness gauge an ingest
      // fleet alarms on (a type whose lag grows is a dead producer).
      // The global max is a 1-row broadcast joined back into ONE
      // conditional-aggregate pass (map-side partials), so the audit is
      // a single scan + an O(types) result at any scale; lag is integer
      // micros div 60e6, no FP. ---
      "q_freshness_lag" -> ((s, d) => {
        val e = table(s, d, "events")
        val g = e.agg(max("ts").as("gmax"))
        e.crossJoin(broadcast(g))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            max("ts").as("mx"),
            sum(when(col("ts") >=
              col("gmax") - expr("INTERVAL 24 HOURS"), 1L).otherwise(0L))
              .as("n_last_24h"),
            max("gmax").as("gm"))
          .select(col("event_type"), col("n_events"),
            fmtTs(col("mx")).as("latest_ts"),
            expr("(unix_micros(gm) - unix_micros(mx)) div 60000000")
              .as("lag_min"),
            col("n_last_24h"))
          .orderBy("event_type")
      }),

      // --- Zipf-law fit: least-squares slope of log2(freq) against
      // log2(rank) over the top-100 vocabulary — the corpus-health
      // scalar (natural text sits near -1; template spam and boilerplate
      // bend it) that complements q_vocab_topk's raw list. The top-100
      // cut is sort+limit (TakeOrdered per-partition heaps — never a
      // global window over the vocabulary); the rank window then runs
      // over just the 100 survivors. Both logs are the integer
      // floor-log2 device, the regression moments are exact int64 sums,
      // and slope/intercept are the only FP ops — bit-identical across
      // engines. ---
      "q_zipf_slope" -> ((s, d) => {
        val freq = table(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("f"))
        val top = freq.orderBy(col("f").desc, col("t").asc).limit(100)
        val w = Window.orderBy(col("f").desc, col("t").asc)
        val xy = top
          .withColumn("r", row_number().over(w).cast("long"))
          .select(ilog2(col("r")).as("x"), ilog2(col("f")).as("y"))
        val m = xy.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        val slope =
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        m.select(col("n").as("n_terms"), slope.as("slope"),
          ((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n").cast("double")).as("intercept"))
      }),

      // --- cross-split leakage audit: near-duplicate pairs whose
      // members landed in DIFFERENT train/val/test splits — the leakage
      // that silently inflates eval scores (a val doc that is a
      // near-copy of a train doc is not a held-out example). Composes
      // two standalone operators unchanged: q_train_split's md5-nibble
      // assignment (map-side, reproducible) and q_dedup_ngram's
      // df-capped posting-list pair stream; the audit itself is two
      // tiny joins of the O(pairs) relation against the split labels
      // and an O(split²) rollup — the pair join dominates, exactly as
      // the standalone dedup does. The canonical fix (drop the b-side
      // from eval splits) is q_corpus_pipeline's near-dedup stage. ---
      "q_split_leakage" -> ((s, d) => {
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        val splits = table(s, d, "documents")
          .select(col("doc_id"),
            when(nib <= "b", "train").when(nib <= "d", "val")
              .otherwise("test").as("split"))
        val pairs = TextPipeline.ngramPairs(s, d).select("a_id", "b_id")
        pairs
          .join(splits.select(col("doc_id").as("a_id"),
            col("split").as("sa")), "a_id")
          .join(splits.select(col("doc_id").as("b_id"),
            col("split").as("sb")), "b_id")
          .filter(col("sa") =!= col("sb"))
          .groupBy(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("split_a", "split_b")
      }),

      // --- training-shard shuffle: deterministic global shuffle of the
      // corpus into 16 hex shards with a per-shard mixing audit — the
      // serve-order pass every training run performs before the
      // tokenizer (a corpus read in source order teaches the model the
      // source boundaries). The shuffle key is md5(salt || doc_id) —
      // the repo-wide md5-gate device: exactly reproducible across
      // runs, partitionings and engines, zero executor RNG state; the
      // shard is the key's first nibble, so placement and within-shard
      // order need no coordination. The audit (fraction of adjacent
      // same-source pairs after the shuffle) is one lag() over each
      // shard's key-ordered window — at fleet scale that window IS the
      // shard writer's sort, so the audit rides the write for free. ---
      "q_shard_shuffle" -> ((s, d) => {
        val keyed = table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            md5(concat(lit("shard42:"), col("doc_id").cast("string")))
              .as("k"))
          .withColumn("shard", substring(col("k"), 1, 1))
        val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
        keyed
          .withColumn("prev_src", lag("source", 1).over(w))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            min("k").as("first_key"), max("k").as("last_key"),
            sum(when(col("prev_src") === col("source"), 1L).otherwise(0L))
              .as("same_src_adj"))
          .withColumn("frac_same_src",
            when(col("n_docs") > 1,
              col("same_src_adj").cast("double") /
                (col("n_docs") - 1).cast("double"))
              .otherwise(lit(0.0)))
          .orderBy("shard")
      }),

      // --- naive-Bayes trainer (class-conditional token model): per
      // (lang, marker-token) document frequencies with add-one
      // smoothing plus class priors — the "train a model inside the
      // warehouse" artifact a language-ID or topic gate deploys from.
      // The marker fan-out is a map-side explode of a 5-element literal
      // array against each doc's token set (array_contains — never a
      // corpus×vocab join); class sizes broadcast back; every
      // probability is exact integer counts with ONE IEEE division, so
      // the model card hashes identically on both engines. ---
      "q_nb_train" -> ((s, d) => {
        val markers = Seq("the", "fast", "data", "order", "sort")
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("tk"))
        val marked = docs
          .select(col("lang"), col("tk"),
            explode(array(markers.map(lit(_)): _*)).as("token"))
          .select(col("lang"), col("token"),
            array_contains(col("tk"), col("token")).cast("long").as("hit"))
        val nl = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val tot = docs.agg(count(lit(1)).as("n_total"))
        marked.groupBy("lang", "token").agg(sum("hit").as("df"))
          .join(broadcast(nl), "lang")
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("token"), col("df"), col("n_docs"),
            (col("n_docs").cast("double") / col("n_total")).as("prior"),
            ((col("df") + 1).cast("double") / (col("n_docs") + 2))
              .as("p_smooth"))
          .orderBy("lang", "token")
      }),

      // --- corpus-curation funnel: the end-to-end pipeline readout —
      // raw → nonempty → quality gate → exact dedup → n-gram near-dedup
      // — one row per stage with rows surviving, rows removed, and the
      // fraction of raw remaining. This is the composition query: each
      // stage is the same operator the standalone entries implement
      // (q_quality_gate's length gates, q_dedup_exact's min-id keeper,
      // q_dedup_ngram's shingle-join pairs with the b-side dropped), so
      // the funnel certifies the operators compose. The deduped relation
      // is localCheckpoint'd once (three consumers); the near-dup stage
      // runs the df-capped posting-list pair join over survivors only —
      // pairwise work shrinks with every upstream gate, exactly how a
      // fleet-scale curation run behaves. The 5-row stage relation's
      // windows are bounded by the stage count, never by data. ---
      "q_corpus_pipeline" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("text"), col("n_chars"))
        val s1 = docs.filter(length(trim(col("text"))) > 0)
        val s2 = s1.filter(
          size(split(col("text"), " ")).between(20, 10000) &&
            col("n_chars") <= 20000)
        val s3 = graft.Tables.spread(
          s2.groupBy("text").agg(min("doc_id").as("doc_id"))
            .localCheckpoint())
        val sh = s3.select(col("doc_id"),
          TextPipeline.shingles(split(col("text"), " ")).as("sh"))
        val counts = sh.select(col("doc_id"),
          size(col("sh")).cast("long").as("n"))
        val postings = graft.Tables.pinWidth(sh
          .select(col("doc_id"), explode(col("sh")).as("g")), col("g"))
          .groupBy("g")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")).between(2, TextPipeline.NgramDfCap))
        val inter = TextPipeline.postingPairs(postings)
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
        val drops = inter
          .join(counts.as("ca"), col("a_id") === col("ca.doc_id"))
          .join(counts.as("cb"), col("b_id") === col("cb.doc_id"))
          .filter(col("inter").cast("double") /
            (col("ca.n") + col("cb.n") - col("inter")) >= 0.5)
          .select(col("b_id").as("doc_id")).distinct()
        val s4 = s3.join(drops, Seq("doc_id"), "left_anti")
        def stage(id: Long, nm: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(id).as("stage_id"), lit(nm).as("stage"),
              col("n_docs"))
        val st = stage(1L, "raw", docs)
          .unionByName(stage(2L, "nonempty", s1))
          .unionByName(stage(3L, "quality", s2))
          .unionByName(stage(4L, "exact_dedup", s3))
          .unionByName(stage(5L, "near_dedup", s4))
        val w = Window.orderBy("stage_id")
        val wAll = Window.orderBy("stage_id")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        st
          .withColumn("removed",
            coalesce(lag("n_docs", 1).over(w) - col("n_docs"), lit(0L)))
          .withColumn("pct_of_raw",
            col("n_docs").cast("double") /
              first("n_docs").over(wAll).cast("double"))
          .orderBy("stage_id")
      }))

  override def oracle: Map[String, String] = Map(

    "q_expect_audit" ->
      """WITH b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f_price,
        |    CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f_status,
        |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '1999-01-01'
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f_date,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f_null,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS f_dup
        |  FROM orders),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS f_orphan FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)),
        |sel AS (SELECT * FROM b CROSS JOIN orph),
        |u AS (
        |  SELECT 'custkey_in_customer' AS expectation, n AS n_checked,
        |         f_orphan AS n_failed FROM sel
        |  UNION ALL SELECT 'custkey_not_null', n, f_null FROM sel
        |  UNION ALL SELECT 'orderdate_in_range', n, f_date FROM sel
        |  UNION ALL SELECT 'orderkey_unique', n, f_dup FROM sel
        |  UNION ALL SELECT 'orderstatus_in_domain', n, f_status FROM sel
        |  UNION ALL SELECT 'totalprice_positive', n, f_price FROM sel)
        |SELECT expectation, n_checked, n_failed,
        |  CAST(n_failed AS DOUBLE) / n_checked AS fail_rate,
        |  CASE WHEN n_failed = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM u ORDER BY expectation""".stripMargin,

    "q_dq_quarantine" ->
      """WITH f AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_chars, n_tokens,
        |    concat_ws(',',
        |      CASE WHEN n_tokens < 20 THEN 'too_short' END,
        |      CASE WHEN n_chars > 500 THEN 'over_long' END,
        |      CASE WHEN lang = 'zh' THEN 'unsupported_lang' END) AS reasons
        |  FROM f)
        |SELECT doc_id, lang, n_chars, n_tokens, reasons
        |FROM r WHERE reasons <> '' ORDER BY doc_id""".stripMargin,

    "q_histogram_equiwidth" ->
      """WITH rng AS (
        |  SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
        |  FROM documents GROUP BY 1),
        |binned AS (
        |  SELECT d.source,
        |    CAST(((n_chars - lo) * 16) // (hi - lo + 1) AS BIGINT) AS bin,
        |    lo, hi
        |  FROM documents d JOIN rng ON rng.source = d.source)
        |SELECT source, bin,
        |  CAST(lo + (bin * (hi - lo + 1) + 15) // 16 AS BIGINT) AS bin_lo,
        |  CAST(lo + ((bin + 1) * (hi - lo + 1) + 15) // 16 - 1 AS BIGINT)
        |    AS bin_hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM binned GROUP BY source, bin, lo, hi
        |ORDER BY source, bin""".stripMargin,

    "q_freshness_lag" ->
      """WITH g AS (SELECT MAX(ts) AS gmax FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS latest_ts,
        |  CAST((epoch_us(MAX(gmax)) - epoch_us(MAX(ts))) // 60000000
        |    AS BIGINT) AS lag_min,
        |  CAST(SUM(CASE WHEN ts >= gmax - INTERVAL 24 HOUR
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_last_24h
        |FROM events CROSS JOIN g
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_zipf_slope" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f
        |         FROM tok GROUP BY 1),
        |top AS (SELECT t, f FROM freq ORDER BY f DESC, t LIMIT 100),
        |xy AS (
        |  SELECT
        |    CAST(length(bin(CAST(row_number() OVER (ORDER BY f DESC, t)
        |      AS BIGINT))) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(f)) - 1 AS BIGINT) AS y
        |  FROM top),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM xy)
        |SELECT n AS n_terms,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) -
        |    (CAST(n * sxy - sx * sy AS DOUBLE) /
        |     CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM m""".stripMargin,

    "q_split_leakage" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |sp AS (SELECT doc_id,
         |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |                <= 'b' THEN 'train'
         |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |                <= 'd' THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents)
         |SELECT least(sa.split, sb.split) AS split_a,
         |  greatest(sa.split, sb.split) AS split_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM p JOIN sp sa ON sa.doc_id = p.a_id
         |       JOIN sp sb ON sb.doc_id = p.b_id
         |WHERE sa.split <> sb.split
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_shard_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    md5('shard42:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |sh AS (SELECT doc_id, source, n_chars, k,
        |         substring(k, 1, 1) AS shard FROM k),
        |lg AS (SELECT shard, source, n_chars, k,
        |         lag(source) OVER (PARTITION BY shard
        |           ORDER BY k, doc_id) AS prev_src
        |       FROM sh)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(k) AS first_key, MAX(k) AS last_key,
        |  CAST(SUM(CASE WHEN prev_src = source THEN 1 ELSE 0 END)
        |    AS BIGINT) AS same_src_adj,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    CAST(SUM(CASE WHEN prev_src = source THEN 1 ELSE 0 END)
        |      AS DOUBLE) / (COUNT(*) - 1)
        |  ELSE 0.0 END AS frac_same_src
        |FROM lg GROUP BY shard ORDER BY shard""".stripMargin,

    "q_nb_train" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS tk
        |  FROM documents),
        |tk AS (SELECT lang, t.token,
        |         CASE WHEN list_contains(tk, t.token)
        |           THEN 1 ELSE 0 END AS hit
        |       FROM docs CROSS JOIN (SELECT unnest(
        |         ['the','fast','data','order','sort']) AS token) t),
        |nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |       FROM docs GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM docs)
        |SELECT tk.lang AS lang, token, CAST(SUM(hit) AS BIGINT) AS df,
        |  n_docs,
        |  CAST(n_docs AS DOUBLE) / n_total AS prior,
        |  CAST(SUM(hit) + 1 AS DOUBLE) / (n_docs + 2) AS p_smooth
        |FROM tk JOIN nl ON nl.lang = tk.lang CROSS JOIN tot
        |GROUP BY tk.lang, token, n_docs, n_total
        |ORDER BY lang, token""".stripMargin,

    "q_corpus_pipeline" ->
      """WITH s1 AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE length(trim(text)) > 0),
        |s2 AS (
        |  SELECT * FROM s1
        |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 10000
        |    AND n_chars <= 20000),
        |s3 AS (SELECT text, MIN(doc_id) AS doc_id FROM s2 GROUP BY text),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM s3),
        |sh AS (SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(len(tk) - 2, 0) + 1),
        |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |       FROM t),
        |c AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM sh),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |pp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         COUNT(*) AS inter
        |       FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |dr AS (SELECT DISTINCT b_id AS doc_id FROM pp
        |       JOIN c ca ON ca.doc_id = pp.a_id
        |       JOIN c cb ON cb.doc_id = pp.b_id
        |       WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
        |s4 AS (SELECT s3.doc_id FROM s3
        |       WHERE NOT EXISTS (SELECT 1 FROM dr
        |                         WHERE dr.doc_id = s3.doc_id)),
        |st AS (
        |  SELECT 1 AS stage_id, 'raw' AS stage,
        |         (SELECT COUNT(*) FROM documents) AS n_docs
        |  UNION ALL SELECT 2, 'nonempty', (SELECT COUNT(*) FROM s1)
        |  UNION ALL SELECT 3, 'quality', (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM s3)
        |  UNION ALL SELECT 5, 'near_dedup', (SELECT COUNT(*) FROM s4))
        |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(COALESCE(lag(n_docs) OVER (ORDER BY stage_id) - n_docs, 0)
        |    AS BIGINT) AS removed,
        |  CAST(n_docs AS DOUBLE) /
        |    first_value(n_docs) OVER (ORDER BY stage_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS pct_of_raw
        |FROM st ORDER BY stage_id""".stripMargin)
}

package graft.operators

import graft.QueryModule
import graft.Tables.table
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Pipeline-tuning / diagnostic operators (round 8, fifth block):
  * dedup-threshold sensitivity, an LSH candidate-quality evaluation
  * against exact near-dup truth (with a PORTABLE md5 minhash, so the
  * whole evaluation is oracle-checkable), and chi-square standardized
  * residuals per contingency cell. All three carry full DuckDB oracles.
  *
  * Determinism: the portable minhash derives every hash from md5
  * (base-16 conv on Spark, nibble shifts on DuckDB — identical
  * int64 minima); Jaccard values are single divisions of exact ints
  * (bit-identical, so threshold compares agree); residuals use one
  * FIXED double expression tree per cell.
  */
object Tuning extends QueryModule {

  private def toks = split(col("text"), " ")

  /** 56-bit md5 integer of a salted shingle — the portable hash family
    * behind the evaluation minhash (NumHashes independent salts).
    */
  private def mh(j: Int) =
    conv(substring(md5(concat(lit(s"mh$j-"), col("sg"))), 1, 14), 16, 10)
      .cast("long")

  private val NumHashes = 16
  private val Bands = 8 // r = 2 rows per band

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- BM25 parameter sweep (round 9 — the OTHER retrieval knob
      // next to q_lsh_curve's band sweep: how does the top-10 move as
      // (k1, b) trade term-frequency saturation against length
      // normalization?): ONE tokenize/stats pass (Retrieval.bm25Corpus)
      // feeds all three parameterizations — each (k1, b) is an exact
      // int64 coefficient set, so the sweep is 3 map-side score
      // projections over the same scan, 3 bounded top-10 ranks (the
      // TopKPerKey window shape), and one broadcast overlap join
      // against the baseline list. Output is O(configs). ---
      "q_bm25_tuning" -> ((s, d) => {
        val (tf, stats) = Retrieval.bm25Corpus(s, d)
        val scored = tf.crossJoin(broadcast(stats))
        // (k1, b) -> exact rational coefficients of
        // num/den = s(k1+1)·a·tf / (s·a·tf + s·k1(1−b)·a + s·k1·b·dl·n)
        val cfgs = Seq(
          ("k120_b075", 120L, 75L, 22L, 10L, 3L, 9L),
          ("k080_b030", 80L, 30L, 45L, 25L, 14L, 6L),
          ("k200_b100", 200L, 100L, 30L, 10L, 0L, 20L))
        val perCfg = cfgs.map { case (label, k1x, bx, cn, cd0, cda, cdd) =>
          scored.select(lit(label).as("cfg"), lit(k1x).as("k1_x100"),
            lit(bx).as("b_x100"), col("doc_id"),
            Retrieval.bm25Score(cn, cd0, cda, cdd).as("bm25"))
        }.reduce(_ unionByName _)
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("cfg").orderBy(col("bm25").desc, col("doc_id"))
        val tops = perCfg.withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 10)
        val baseTop = tops.filter(col("cfg") === "k120_b075")
          .select(col("doc_id")).withColumn("hit", lit(1L))
        tops.join(broadcast(baseTop), Seq("doc_id"), "left")
          .groupBy("cfg", "k1_x100", "b_x100")
          .agg(count(lit(1)).as("n_top"),
            sum(coalesce(col("hit"), lit(0L))).as("overlap_base"))
          .orderBy("cfg")
      }),

      // --- dedup-threshold sensitivity sweep (the knob-tuning run a
      // curation team does before committing a Jaccard cutoff: how
      // many pairs/docs does each threshold implicate?): the exact
      // pair relation computes ONCE; the 5-threshold fan-out is a
      // map-side explode of the O(pairs) relation, so the sweep costs
      // one near-dup join regardless of how many thresholds are
      // screened. Jaccard is the same single-division double on both
      // engines, so threshold compares agree bit-for-bit. ---
      "q_dedup_sweep" -> ((s, d) => {
        val pairs = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"), col("jac"))
        val th = Seq(0.5, 0.9, 0.95, 0.97, 0.98)
        val sweep = pairs
          .select(col("a_id"), col("b_id"), col("jac"),
            explode(array(th.map(lit(_)): _*)).as("threshold"))
          .filter(col("jac") >= col("threshold"))
        val np = sweep.groupBy("threshold")
          .agg(count(lit(1)).as("n_pairs"))
        val nd = sweep
          .select(col("threshold"),
            explode(array(col("a_id"), col("b_id"))).as("doc"))
          .groupBy("threshold")
          .agg(countDistinct("doc").as("n_docs"))
        np.join(nd, "threshold").orderBy("threshold")
      }),

      // --- LSH candidate-quality evaluation (run before trusting any
      // banded near-dup pass at fleet scale): a PORTABLE minhash — 16
      // md5-salted hash minima, 8 bands of 2 — generates candidate
      // pairs exactly like q_dedup_minhash's bucketed shape (posting
      // lists per band bucket, i<j emission, distinct before the
      // array fetch); exact Jaccard then verifies candidates, and the
      // report compares verified pairs against the exact n-gram
      // truth: candidate precision (verification work wasted) and
      // recall (dups the bands missed). Portability is the point —
      // engine-native hashes would make this eval unverifiable. ---
      // --- SimHash radius sweep (round 15): the hamming-distance
      // companion to q_minhash_eval — candidates from the 4x16-bit
      // band blocking (pigeonhole: any pair within hamming 3 of 64
      // bits shares >= 1 exact band), then precision/recall against
      // the exact n-gram truth at each radius r in 0..3. Same [2,256]
      // posting-list cap as every banded pass (mirrored in the
      // oracle); hamming is one codegen'd bit_count(xor) per
      // candidate; the radius axis is a 4-row broadcast theta-join
      // over the <= 4-row per-hamming census, never a re-scan. Both
      // terminal rates carry explicit zero-denominator guards (Spark
      // and DuckDB disagree on x/0). ---
      "q_simhash_eval" -> ((s, d) => {
        val sig = table(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.SimHash64(split(col("text"), " ")).as("sh"))
        val bands = sig.select(col("doc_id"),
          posexplode(array((0 until 4).map(i =>
            shiftright(col("sh"), 16 * i).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("band", "bkey")))
        val cand = TextPipeline.postingPairs(
          graft.Tables.pinWidth(bands, col("band"), col("bkey"))
            .groupBy("band", "bkey")
            .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
            .filter(size(col("ids")).between(2, 256)))
          .distinct()
        val ham = cand
          .join(sig.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
            "a_id")
          .join(sig.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
            "b_id")
          .select(col("a_id"), col("b_id"),
            expr("CAST(bit_count(a_sh ^ b_sh) AS BIGINT)").as("ham"))
          .filter(col("ham") <= 3)
        val truth = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
        val census = ham.join(truth, Seq("a_id", "b_id"), "left")
          .groupBy("ham")
          .agg(count(lit(1)).as("cp"),
            sum(coalesce(col("hit"), lit(0L))).as("ch"))
        val nE = truth.agg(count(lit(1)).as("n_exact"))
        s.range(4).select(col("id").as("r"))
          .join(broadcast(census), col("ham") <= col("r"), "left")
          .groupBy("r")
          .agg(coalesce(sum("cp"), lit(0L)).cast("long").as("n_pairs"),
            coalesce(sum("ch"), lit(0L)).cast("long").as("n_hits"))
          .crossJoin(broadcast(nE))
          .select(col("r"), col("n_pairs"), col("n_hits"), col("n_exact"),
            when(col("n_pairs") > 0, col("n_hits").cast("double")
              / col("n_pairs")).as("cand_precision"),
            when(col("n_exact") > 0, col("n_hits").cast("double")
              / col("n_exact")).as("recall"))
          .orderBy("r")
      }),

      "q_minhash_eval" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextPipeline.shingles(toks).as("sh"))
          // kept: 1.19 -> 1.32 s with a shared repartition instead
          .localCheckpoint()
        val ex = docs.select(col("doc_id"), explode(col("sh")).as("sg"))
        // Hash the DISTINCT shingle vocabulary once (16 md5s per
        // distinct trigram, not per occurrence — a ~50x md5 saving on
        // this corpus) and broadcast it back into the occurrence
        // stream; the signature is then a plain 16-column min
        // aggregate with map-side partials. At fleet scale the hashed
        // vocabulary swaps to a shuffle join on sg — same plan minus
        // the broadcast hint.
        val hashedVocab = ex.select(col("sg")).distinct()
          .select(Seq(col("sg")) ++
            (0 until NumHashes).map(j => mh(j).as(s"g$j")): _*)
        val mins = (0 until NumHashes).map(j => min(col(s"g$j")).as(s"h$j"))
        val sig = ex.join(broadcast(hashedVocab), "sg")
          .groupBy("doc_id").agg(mins.head, mins.tail: _*)
        val bandArr = array((0 until Bands).map(i =>
          concat_ws("_", col(s"h${2 * i}"), col(s"h${2 * i + 1}"))): _*)
        val cand = TextPipeline.postingPairs(
          graft.Tables.pinWidth(
            sig.select(col("doc_id"), posexplode(bandArr)
              .as(Seq("band", "bkey"))), col("band"), col("bkey"))
            .groupBy("band", "bkey")
            .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
            .filter(size(col("ids")) >= 2))
          .distinct()
        val verified = docs
          .select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
          .join(broadcast(cand), "a_id")
          .join(docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
            .hint("shuffle_hash"), "b_id")
          .select(col("a_id"), col("b_id"),
            (size(array_intersect(col("a_sh"), col("b_sh")))
              .cast("double") /
              size(array_union(col("a_sh"), col("b_sh")))).as("jac"))
          .filter(col("jac") >= 0.5)
          .select(col("a_id"), col("b_id"))
        val exact = TextPipeline.ngramPairs(s, d).select("a_id", "b_id")
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nC = cand.agg(count(lit(1)).as("n_cand"))
        val nV = verified.agg(count(lit(1)).as("n_verified"))
        nE.crossJoin(nC).crossJoin(nV)
          .select(col("n_exact"), col("n_cand"), col("n_verified"),
            (col("n_verified").cast("double") / col("n_cand"))
              .as("cand_precision"),
            (col("n_verified").cast("double") / col("n_exact"))
              .as("recall"))
      }),

      // --- LSH band-geometry recall curve (the OTHER minhash knob:
      // with 16 hashes fixed, how does recall move as bands trade
      // against rows-per-band? r=1/16 bands catches everything noisy,
      // r=4/4 bands only near-identical pairs): ONE signature pass
      // feeds all three geometries — the per-config band keys are a
      // map-side explode of the same 16-column signature row, and
      // candidates count per config through the same posting-list
      // shape. Recall = verified-candidate count over the exact pair
      // truth, one division per config. Cost note: the r=1 geometry is
      // INTENTIONALLY promiscuous (sf0.1: ~156k candidates against 256
      // true pairs — that visibility is the point of the curve);
      // DuckDB needs ~20 s for this sweep where the distributed
      // posting-list shape runs it in ~4 s. ---
      "q_lsh_curve" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextPipeline.shingles(toks).as("sh"))
          // kept with sig's: 1.40 -> 1.93 s with shared repartitions
          .localCheckpoint()
        val ex = docs.select(col("doc_id"), explode(col("sh")).as("sg"))
        val hashedVocab = ex.select(col("sg")).distinct()
          .select(Seq(col("sg")) ++
            (0 until NumHashes).map(j => mh(j).as(s"g$j")): _*)
        val mins = (0 until NumHashes)
          .map(j => min(col(s"g$j")).as(s"h$j"))
        val sig = ex.join(broadcast(hashedVocab), "sg")
          .groupBy("doc_id").agg(mins.head, mins.tail: _*)
          .localCheckpoint() // kept: see docs above
        def bandKeys(r: Int): Column = array((0 until NumHashes / r).map {
          i => concat_ws("_",
            (0 until r).map(k => col(s"h${i * r + k}")): _*)
        }: _*)
        val configs = Seq(1, 2, 4)
        val banded = configs.map { r =>
          sig.select(lit(r.toLong).as("r"), col("doc_id"),
            posexplode(bandKeys(r)).as(Seq("band", "bkey")))
        }.reduce(_ unionByName _)
        val cand = banded
          .groupBy("r", "band", "bkey")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) >= 2)
          .select(col("r"), posexplode(col("ids")).as(Seq("i", "a_id")),
            col("ids"))
          .select(col("r"), col("a_id"), col("i"),
            posexplode(col("ids")).as(Seq("j", "b_id")))
          .filter(col("i") < col("j"))
          .select(col("r"), col("a_id"), col("b_id"))
          .distinct()
        val truth = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"), lit(1L).as("hit"))
        val nE = truth.count()
        cand
          .join(truth, Seq("a_id", "b_id"), "left")
          .groupBy("r")
          .agg(count(lit(1)).as("n_cand"),
            sum(coalesce(col("hit"), lit(0L))).as("n_true"))
          .select(col("r"), (lit(16) / col("r")).cast("long").as("bands"),
            col("n_cand"), col("n_true"),
            (col("n_true").cast("double") / lit(nE.toDouble))
              .as("recall"))
          .orderBy("r")
      }),

      // --- near-dup graph modularity against the SOURCE partition
      // (are near-dups an intra-source phenomenon, or does template
      // reuse cross source boundaries? — decides whether per-source
      // dedup sharding is safe): Newman modularity Q of the source
      // partition over the exact pair graph, spelled entirely in
      // exact integers — Q·4m² = Σ_c (4m·e_c − deg_c²) — with ONE
      // terminal division. Every relation in sight is O(pairs) or
      // O(sources). ---
      "q_graph_modularity" -> ((s, d) => {
        val src = table(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val pairs = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"))
        val lab = pairs
          .join(src.select(col("doc_id").as("a_id"),
            col("source").as("sa")), "a_id")
          .join(src.select(col("doc_id").as("b_id"),
            col("source").as("sb")), "b_id")
        val m = lab.agg(count(lit(1)).as("m"))
        val ec = lab.filter(col("sa") === col("sb"))
          .groupBy(col("sa").as("source"))
          .agg(count(lit(1)).as("e_within"))
        val deg = lab.select(col("a_id").as("doc_id"))
          .unionByName(lab.select(col("b_id").as("doc_id")))
          .join(src, "doc_id")
          .groupBy("source").agg(count(lit(1)).as("deg_c"))
        deg.join(ec, Seq("source"), "left")
          .na.fill(0L, Seq("e_within"))
          .agg(sum("e_within").as("se"),
            sum(col("deg_c") * col("deg_c")).as("sd2"))
          .crossJoin(m)
          .select(col("m"),
            (lit(4L) * col("m") * col("se") - col("sd2")).as("q_num"))
          .select(col("m"), col("q_num"),
            (col("q_num").cast("double") / (lit(4.0)
              * col("m").cast("double") * col("m").cast("double")))
              .as("modularity"))
      }),

      // --- chi-square standardized residuals (the per-cell
      // diagnostic q_chisq_test's single statistic hides: WHICH
      // segment×priority cells deviate, and which way): observed
      // contingency counts reduce first, margins broadcast back, and
      // each cell's (O−E)/√E evaluates in one fixed double tree —
      // E as double product/quotient so the margins never overflow
      // int64 at fleet scale. Output is O(cells). ---
      "q_crosstab_resid" -> ((s, d) => {
        val j = table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            col("o_orderpriority").as("pri"))
        val cells = j.groupBy("seg", "pri").agg(count(lit(1)).as("o"))
        val rt = j.groupBy("seg").agg(count(lit(1)).as("rt"))
        val ct = j.groupBy("pri").agg(count(lit(1)).as("ct"))
        val tot = j.agg(count(lit(1)).as("nn"))
        cells.join(broadcast(rt), "seg").join(broadcast(ct), "pri")
          .crossJoin(broadcast(tot))
          .select(col("seg"), col("pri"), col("o"),
            (col("rt").cast("double") * col("ct").cast("double") /
              col("nn").cast("double")).as("e"))
          .withColumn("resid",
            (col("o").cast("double") - col("e")) / sqrt(col("e")))
          .orderBy("seg", "pri")
      }),

      // --- near-dup similarity histogram (round 10): how the exact
      // Jaccard mass distributes across 0.05-wide bins in [0.5, 1] —
      // the threshold-picking readout (is the corpus bimodal exact-dup
      // vs borderline, or a smear that makes any cutoff arbitrary?).
      // Reads the materialized truth relation (one amortized build
      // serves 14 queries); binning is floor(jac*20) on the SAME IEEE
      // double both engines compute, so bin edges can never disagree;
      // per-bin min/max are order-independent aggregates. O(bins)
      // output. ---
      "q_jaccard_hist" -> ((s, d) =>
        TextPipeline.ngramPairs(s, d)
          .groupBy(floor(col("jac") * 20).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            min("jac").as("jac_min"), max("jac").as("jac_max"))
          .select(col("bin"),
            (col("bin").cast("double") / 20.0).as("bin_lo"),
            col("n_pairs"), col("jac_min"), col("jac_max"))
          .orderBy("bin")))

  override def oracle: Map[String, String] = Map(

    // signature reconstruction reuses SigOracle.simhashSql (nested
    // WITH scopes its CTE names away from ngramPairCte's)
    "q_simhash_eval" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |truth AS (SELECT a_id, b_id FROM p),
         |sig AS (${SigOracle.simhashSql}),
         |bd AS (SELECT doc_id, b.band,
         |    CASE b.band WHEN 0 THEN band0 WHEN 1 THEN band1
         |      WHEN 2 THEN band2 ELSE band3 END AS bkey
         |  FROM sig CROSS JOIN
         |    (SELECT unnest(generate_series(0, 3)) AS band) b),
         |cap AS (SELECT band, bkey FROM bd GROUP BY 1, 2
         |        HAVING COUNT(*) BETWEEN 2 AND 256),
         |cnd AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bd x JOIN bd y ON x.band = y.band AND x.bkey = y.bkey
         |    AND x.doc_id < y.doc_id
         |  JOIN cap c ON c.band = x.band AND c.bkey = x.bkey),
         |hm AS (SELECT cnd.a_id, cnd.b_id,
         |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
         |      AS ham
         |  FROM cnd JOIN sig sa ON sa.doc_id = cnd.a_id
         |  JOIN sig sb ON sb.doc_id = cnd.b_id),
         |h3 AS (SELECT hm.ham,
         |    CASE WHEN t.a_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM hm LEFT JOIN truth t
         |    ON t.a_id = hm.a_id AND t.b_id = hm.b_id
         |  WHERE hm.ham <= 3),
         |ax AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT)
         |    AS r),
         |ag AS (SELECT r, CAST(COUNT(h3.ham) AS BIGINT) AS n_pairs,
         |    CAST(COALESCE(SUM(h3.hit), 0) AS BIGINT) AS n_hits
         |  FROM ax LEFT JOIN h3 ON h3.ham <= ax.r GROUP BY 1),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM truth)
         |SELECT r, n_pairs, n_hits, n_exact,
         |  CASE WHEN n_pairs > 0
         |    THEN CAST(n_hits AS DOUBLE) / n_pairs END AS cand_precision,
         |  CASE WHEN n_exact > 0
         |    THEN CAST(n_hits AS DOUBLE) / n_exact END AS recall
         |FROM ag CROSS JOIN ne ORDER BY r""".stripMargin,

    // the pair relation and the binning expression are shared with the
    // Spark side verbatim (IEEE doubles bin identically)
    "q_jaccard_hist" ->
      s"""WITH ${TextPipeline.ngramPairCte}
         |SELECT CAST(floor(jac * 20) AS BIGINT) AS bin,
         |  CAST(floor(jac * 20) AS BIGINT) / 20.0 AS bin_lo,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  MIN(jac) AS jac_min, MAX(jac) AS jac_max
         |FROM p GROUP BY 1, 2 ORDER BY bin""".stripMargin,

    "q_bm25_tuning" -> {
      def branch(label: String, k1x: Long, bx: Long, cn: Long, cd0: Long,
          cda: Long, cdd: Long): String =
        s"""SELECT '$label' AS cfg, CAST($k1x AS BIGINT) AS k1_x100,
           |  CAST($bx AS BIGINT) AS b_x100, doc_id,
           |  ${Retrieval.bm25ScoreSqlFor(cn, cd0, cda, cdd)}
           |  AS bm25
           |FROM w CROSS JOIN s""".stripMargin
      s"""WITH ${Retrieval.bm25Cte},
         |sc AS (${branch("k120_b075", 120, 75, 22, 10, 3, 9)}
         |UNION ALL
         |${branch("k080_b030", 80, 30, 45, 25, 14, 6)}
         |UNION ALL
         |${branch("k200_b100", 200, 100, 30, 10, 0, 20)}),
         |r AS (SELECT cfg, k1_x100, b_x100, doc_id,
         |    row_number() OVER (PARTITION BY cfg
         |      ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM sc),
         |t AS (SELECT * FROM r WHERE rn <= 10),
         |bt AS (SELECT doc_id FROM t WHERE cfg = 'k120_b075')
         |SELECT cfg, k1_x100, b_x100,
         |  CAST(COUNT(*) AS BIGINT) AS n_top,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM bt)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS overlap_base
         |FROM t GROUP BY 1, 2, 3 ORDER BY cfg""".stripMargin
    },

    "q_dedup_sweep" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |th AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
         |    CAST(0.95 AS DOUBLE), CAST(0.97 AS DOUBLE),
         |    CAST(0.98 AS DOUBLE)]) AS threshold),
         |sw AS (SELECT a_id, b_id, threshold FROM p CROSS JOIN th
         |       WHERE jac >= threshold),
         |np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM sw GROUP BY threshold),
         |nd AS (SELECT threshold,
         |         CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
         |       FROM (SELECT threshold, unnest([a_id, b_id]) AS doc
         |             FROM sw) GROUP BY threshold)
         |SELECT threshold, n_pairs, n_docs FROM np JOIN nd
         |USING (threshold) ORDER BY threshold""".stripMargin,

    "q_minhash_eval" -> {
      def mhSql(j: Int): String =
        s"""MIN(CAST(list_sum([CAST(strpos('0123456789abcdef',
           |      substr(md5('mh$j-' || sg), i, 1)) - 1 AS BIGINT)
           |    << (4 * (14 - i)) for i in range(1, 15)]) AS BIGINT))
           |  AS h$j""".stripMargin
      val sigCols = (0 until NumHashes).map(mhSql).mkString(",\n")
      val bandList = (0 until Bands).map(i =>
        s"CAST(h${2 * i} AS VARCHAR) || '_' || CAST(h${2 * i + 1} AS VARCHAR)")
        .mkString(", ")
      s"""WITH ${TextPipeline.ngramPairCte},
         |sig AS (SELECT doc_id,
         |$sigCols
         |  FROM e GROUP BY doc_id),
         |bd AS (SELECT doc_id,
         |    generate_subscripts([$bandList], 1) AS band,
         |    unnest([$bandList]) AS bkey
         |  FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bd a JOIN bd b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |      AND a.doc_id < b.doc_id),
         |ver AS (SELECT cand.a_id, cand.b_id
         |  FROM cand
         |  JOIN (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |          COUNT(*) AS inter
         |        FROM e a JOIN e b ON a.sg = b.sg
         |          AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2) i
         |    ON i.a_id = cand.a_id AND i.b_id = cand.b_id
         |  JOIN c ca ON ca.doc_id = cand.a_id
         |  JOIN c cb ON cb.doc_id = cand.b_id
         |  WHERE CAST(i.inter AS DOUBLE)
         |    / (ca.n + cb.n - i.inter) >= 0.5),
         |m AS (SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_exact,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ver) AS n_verified)
         |SELECT n_exact, n_cand, n_verified,
         |  CAST(n_verified AS DOUBLE) / n_cand AS cand_precision,
         |  CAST(n_verified AS DOUBLE) / n_exact AS recall
         |FROM m""".stripMargin
    },

    "q_lsh_curve" -> {
      def mhSql(j: Int): String =
        s"""MIN(CAST(list_sum([CAST(strpos('0123456789abcdef',
           |      substr(md5('mh$j-' || sg), i, 1)) - 1 AS BIGINT)
           |    << (4 * (14 - i)) for i in range(1, 15)]) AS BIGINT))
           |  AS h$j""".stripMargin
      val sigCols = (0 until NumHashes).map(mhSql).mkString(",\n")
      def bandList(r: Int): String = (0 until NumHashes / r).map { i =>
        (0 until r).map(k => s"CAST(h${i * r + k} AS VARCHAR)")
          .mkString(" || '_' || ")
      }.mkString(", ")
      val bdArms = Seq(1, 2, 4).map { r =>
        s"""SELECT $r AS r, doc_id,
           |    generate_subscripts([${bandList(r)}], 1) AS band,
           |    unnest([${bandList(r)}]) AS bkey
           |  FROM sig""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH ${TextPipeline.ngramPairCte},
         |sig AS (SELECT doc_id,
         |$sigCols
         |  FROM e GROUP BY doc_id),
         |bd AS (
         |$bdArms),
         |cand AS (SELECT DISTINCT a.r, a.doc_id AS a_id,
         |    b.doc_id AS b_id
         |  FROM bd a JOIN bd b ON a.r = b.r AND a.band = b.band
         |    AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM p),
         |jj AS (SELECT cand.r,
         |    CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM cand LEFT JOIN p
         |    ON p.a_id = cand.a_id AND p.b_id = cand.b_id)
         |SELECT CAST(r AS BIGINT) AS r, CAST(16 // r AS BIGINT) AS bands,
         |  CAST(COUNT(*) AS BIGINT) AS n_cand,
         |  CAST(SUM(hit) AS BIGINT) AS n_true,
         |  CAST(SUM(hit) AS DOUBLE) / n_exact AS recall
         |FROM jj CROSS JOIN ne GROUP BY r, n_exact
         |ORDER BY r""".stripMargin
    },

    "q_graph_modularity" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |src AS (SELECT doc_id, source FROM documents),
         |lab AS (SELECT p.a_id, p.b_id, sa.source AS sa,
         |    sb.source AS sb
         |  FROM p JOIN src sa ON sa.doc_id = p.a_id
         |  JOIN src sb ON sb.doc_id = p.b_id),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
         |ew AS (SELECT sa AS source, CAST(COUNT(*) AS BIGINT)
         |    AS e_within FROM lab WHERE sa = sb GROUP BY sa),
         |dg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS deg_c
         |  FROM (SELECT a_id AS doc_id FROM lab
         |        UNION ALL SELECT b_id FROM lab)
         |  JOIN src USING (doc_id) GROUP BY source),
         |q AS (SELECT CAST(SUM(4 * m * COALESCE(e_within, 0)
         |      - deg_c * deg_c) AS BIGINT) AS q_num
         |  FROM dg LEFT JOIN ew USING (source) CROSS JOIN mm)
         |SELECT (SELECT m FROM mm) AS m, q_num,
         |  CAST(q_num AS DOUBLE)
         |    / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm))
         |    AS modularity
         |FROM q""".stripMargin,

    "q_crosstab_resid" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS o
        |          FROM j GROUP BY seg, pri),
        |rt AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS rt
        |       FROM j GROUP BY seg),
        |ct AS (SELECT pri, CAST(COUNT(*) AS BIGINT) AS ct
        |       FROM j GROUP BY pri),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM j)
        |SELECT seg, pri, o,
        |  CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)
        |    AS e,
        |  (CAST(o AS DOUBLE)
        |    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |      / CAST(nn AS DOUBLE))
        |    / sqrt(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |      / CAST(nn AS DOUBLE)) AS resid
        |FROM cells JOIN rt USING (seg) JOIN ct USING (pri)
        |CROSS JOIN t ORDER BY seg, pri""".stripMargin)
}

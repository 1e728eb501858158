package graft.operators

import graft.Det.let
import graft.QueryModule
import graft.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-infrastructure operators over the document corpus, round 5:
  * BM25 relevance ranking and an inverted-index (postings) build. Both
  * are the batch halves of a contamination/search stack: the index finds
  * which documents mention a probe, BM25 ranks them.
  *
  * Determinism notes (SURVEY.md §2.C preamble applies):
  *   - BM25 with k1 = 1.2, b = 0.75 is computed EXACTLY in int64 up to
  *     one final IEEE division per query term: multiplying the classic
  *     per-term expression tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
  *     through by 10*A (A = total corpus tokens, avgdl = A/N) gives
  *     22*A*tf / (10*A*tf + 3*A + 9*dl*N) — integer numerator and
  *     denominator, so both engines divide the identical operands.
  *   - idf uses the same integer floor-log2 spelling as
  *     [[Scoring]]'s perplexity (`length(bin(...)) - 1`), no libm.
  *   - The three per-term scores are added in one fixed written order
  *     (left-to-right in both engines), never via SUM over an exploded
  *     relation, so no float-reassociation hazard.
  */
object Retrieval extends QueryModule {

  private def toks: Column = split(col("text"), " ")

  /** BM25 probe terms: one rare term (the actual signal — its idf
    * dominates) and two high-df terms whose idf correctly rounds to ~0,
    * the stopword behavior BM25 is designed to have.
    */
  private[operators] val Terms = Seq("dup", "spark", "vector")

  /** floor(log2(num/den)) for exact int64 operands, via binary-string
    * length (shared spelling with Scoring.bits — no libm).
    */
  private[operators] def idfBits(num: Column, den: Column): Column =
    (length(bin(floor(num.cast("double") / den).cast("long"))) - 1)
      .cast("long")

  /** Per-document BM25 scores against [[Terms]] — the scoring pipeline
    * shared by `q_rank_bm25` (top-50) and `q_rank_fusion` (lexical leg):
    * one-pass corpus stats broadcast as a 1-row relation, then pure
    * map-side projection. Returns (doc_id, dl, tf_rare, bm25).
    */
  /** (per-doc tf relation, 1-row corpus stats) — the BM25 corpus pass
    * shared by the scorer below and Tuning's k1/b sweep (one tokenize
    * pass feeds every parameterization).
    */
  private[operators] def bm25Corpus(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        toks.as("tk"))
    val withTf = Terms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        (col("dl") - size(array_remove(col("tk"), t))).cast("long"))
    }.drop("tk")
    val stats = withTf.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).as("a") +:
        Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))): _*)
    (withTf, stats)
  }

  /** Per-term BM25 score columns for the integer-rational coefficient
    * set (cNum·a·tf) / (cDen0·a·tf + cDenA·a + cDenDl·dl·n) — the
    * (k1, b) pair scaled to exact int64 coefficients. Shared with
    * Tuning's k1/b sweep.
    */
  private[operators] def bm25Score(cNum: Long, cDen0: Long, cDenA: Long,
      cDenDl: Long): Column =
    Terms.indices.map { i =>
      val idf = idfBits(
        lit(2) * col("n") - lit(2) * col(s"df$i") + 1,
        lit(2) * col(s"df$i") + 1)
      // tf = 0 zeroes the numerator, so absent terms contribute
      // exactly 0.0 with no branch
      idf.cast("double") *
        ((lit(cNum) * col("a") * col(s"tf$i")).cast("double") /
          (lit(cDen0) * col("a") * col(s"tf$i") + lit(cDenA) * col("a") +
            lit(cDenDl) * col("dl") * col("n")).cast("double"))
    }.reduceLeft(_ + _)

  private[operators] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val (withTf, stats) = bm25Corpus(s, d)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("tf0").as("tf_rare"),
        bm25Score(22, 10, 3, 9).as("bm25"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- BM25 ranking: corpus stats (N docs, A total tokens, per-term
    // df) reduce to ONE scalar row — computed in a single pass with
    // conditional aggregates and broadcast back under every document
    // (crossJoin of a 1-row relation; Spark plans a BroadcastNestedLoop
    // that costs one map-side lookup). Scoring is then pure map-side
    // projection over the corpus scan — no shuffle at any scale — and
    // the global top-50 is a TakeOrdered (per-partition heap + driver
    // merge of 50-row heads), never a full sort. tf per term is
    // size-difference against array_remove: codegen'd collection ops,
    // no lambda HOFs in the hot path. Int64 bounds: 22*A*tf < 2^63
    // through ~1e15 corpus tokens x tf 100; past that the rationals
    // move to DECIMAL(38,0) partials, same shape. ---
    "q_rank_bm25" -> ((s, d) =>
      bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)),

    // --- pseudo-relevance feedback (Rocchio-style query expansion):
    // take the BM25 top-5, harvest the terms that are FREQUENT in
    // those five but RARE corpus-wide, and emit the top-10 expansion
    // candidates — the classic second-pass recall lever. The only
    // corpus-sized work is the df aggregate (token-keyed, map-side
    // partials) and the scored scan already priced by q_rank_bm25;
    // the feedback set is 5 docs, so the tf side is bounded. The
    // score tf5·⌊log2(N/df)⌋ keeps idf INTEGER (the house floor-log2
    // idiom), and the final cut is a 10-row TakeOrdered. ---
    "q_prf_expand" -> ((s, d) => {
      val top5 = bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf5 = toks.join(top5, "doc_id")
        .groupBy("tok").agg(count(lit(1)).as("tf5"))
      val df = toks.distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val n = table(s, d, "documents").agg(count(lit(1)).as("n"))
      // idf floor-log2 of 16N/df: 4 extra bits of resolution so
      // common-but-not-universal terms keep a nonzero integer idf
      tf5.join(df, "tok").crossJoin(broadcast(n))
        .select(col("tok"), col("tf5"), col("df"),
          expr("CAST(length(bin((16 * n) div df)) - 1 AS BIGINT)")
            .as("idf_fl"))
        .withColumn("score", col("tf5") * col("idf_fl"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("tok")).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score").desc, col("tok"))).cast("long"))
        .orderBy("rnk")
    }),

    // --- hybrid retrieval: reciprocal-rank fusion (round 6) of the
    // lexical BM25 list and an embedding-cosine list — the standard
    // hybrid-search combinator (RRF: score = sum over lists of
    // 1/(60 + rank); rank-based, so the two score scales never need
    // calibrating). Each leg is an independent top-20 TakeOrdered
    // (per-partition heaps — never a global sort), ranks derive from
    // windows over the 20 bounded survivors only, and the fusion is a
    // full-outer join of two 20-row relations — driver-scale work no
    // matter the corpus. Float determinism: each contribution is ONE
    // IEEE division 1/(60+rank) of exact small operands, and the two
    // terms add in fixed written order. ---
    "q_rank_fusion" -> ((s, d) => {
      val lexTop = bm25Scored(s, d).select("doc_id", "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      val wl = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lexRank = lexTop
        .withColumn("r_lex", row_number().over(wl).cast("long"))
        .select("doc_id", "r_lex")
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").as("q"))
        .withColumn("nn", graft.functions.QuantizedDot(col("q"), col("q")))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("q").as("pq"), col("nn").as("pn"))
      val vecTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          (graft.functions.QuantizedDot(col("pq"), col("q")).cast("double") /
            (sqrt(col("pn").cast("double")) * sqrt(col("nn").cast("double"))))
            .as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(20)
      val wv = Window.orderBy(col("cos").desc, col("doc_id"))
      val vecRank = vecTop
        .withColumn("r_vec", row_number().over(wv).cast("long"))
        .select("doc_id", "r_vec")
      def contrib(r: Column): Column =
        when(r.isNotNull, lit(1.0) / (lit(60.0) + r)).otherwise(lit(0.0))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          (contrib(col("r_lex")) + contrib(col("r_vec"))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // --- ranking-quality metrics bundle (nDCG@10 / MRR / P@10) for the
    // BM25 ranking, with graded relevance rel = min(tf_rare, 3) — the
    // term-frequency proxy a zero-judgment corpus audit uses. Scale
    // shape: the ONLY corpus-sized work is the scoring scan + a top-10
    // TakeOrdered; every metric then derives from windows over the 10
    // surviving rows (the BM25 discipline — never rank the corpus to
    // measure the head). Determinism: the DCG discount is the integer
    // floor-log2 idiom (weight 6/fl(r), fl in {1,2,3} divides 6 — DCG
    // and ideal-DCG are exact int64), so nDCG and MRR are each ONE
    // terminal IEEE division; zero-relevance lists gate to 0.0
    // explicitly rather than 0/0. ---
    "q_rank_ndcg" -> ((s, d) => {
      val top10 = bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("bm25"),
          least(col("tf_rare"), lit(3L)).as("rel"))
      val wr = Window.orderBy(col("bm25").desc, col("doc_id"))
      val wi = Window.orderBy(col("rel").desc, col("doc_id"))
      val weighted = top10
        .withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("irk", row_number().over(wi).cast("long"))
        .select(col("rel"), col("rk"),
          expr("rel * (6 div (length(bin(rk + 1)) - 1))").as("g"),
          expr("rel * (6 div (length(bin(irk + 1)) - 1))").as("ig"))
      weighted.agg(
          sum(col("g")).as("dcg6"), sum(col("ig")).as("idcg6"),
          min(when(col("rel") > 0, col("rk"))).as("first_rel"),
          sum((col("rel") > 0).cast("long")).as("n_rel"))
        .select(col("dcg6"), col("idcg6"),
          when(col("idcg6") > 0,
            col("dcg6").cast("double") / col("idcg6").cast("double"))
            .otherwise(0.0).as("ndcg_at_10"),
          coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("mrr"),
          (col("n_rel").cast("double") / 10.0).as("p_at_10"))
    }),

    // --- expected reciprocal rank (ERR@10): the CASCADE-model ranking
    // metric — a user scans down, stops at a satisfying doc with
    // probability rel/4; ERR = Σ_i (R_i/4)·Π_{j<i}(1−R_j/4)/i weights
    // position by how much relevance SHADOWS it, which NDCG ignores.
    // Determinism: every term is EXACT INTEGER — the survival product
    // Π(4−R_j) folds over a window-collected bounded list, scaled by
    // 4^(10−i)·(2520/i) (2520 = lcm(1..10), so the division is exact),
    // summed in int64 (≤ 5.3e14 per term), ONE terminal division by
    // 4^10·2520. All windows sit above a TakeOrdered 10-row relation.
    // ---
    "q_err_rank" -> ((s, d) => {
      val top10 = bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("bm25"),
          least(col("tf_rare"), lit(3L)).as("rel"))
      val wr = Window.orderBy(col("bm25").desc, col("doc_id"))
      val ranked = top10
        .withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("prod_before",
          aggregate(
            collect_list(lit(4L) - col("rel"))
              .over(wr.rowsBetween(Window.unboundedPreceding, -1)),
            lit(1L), (acc, e) => acc * e))
        .withColumn("term_scaled",
          col("rel") * col("prod_before") *
            expr("shiftleft(1L, cast(20 - rk * 2 as int))") *
            expr("2520 div rk"))
      ranked
        .withColumn("err_cum",
          sum("term_scaled").over(wr.rowsBetween(
            Window.unboundedPreceding, Window.currentRow))
            .cast("double") / 2642411520.0)
        .select(col("rk"), col("doc_id"), col("rel"), col("prod_before"),
          col("term_scaled"), col("err_cum"))
        .orderBy("rk")
    }),

    // --- inverted-index build (trigram postings): the scale shape is
    // df-first — document frequency is a cheap combinable count
    // (map-side partial, one shuffle on the gram), the probe set (here:
    // bottom-100 rarest grams, the ones a contamination check would
    // look up) is selected from that aggregate, and ONLY surviving
    // grams' postings are collected, with the probe set broadcast into
    // the gram stream. Collecting postings for every gram first would
    // shuffle stopword posting lists orders of magnitude larger than
    // the answer; this never materializes them. Postings are rendered
    // as a canonical comma-joined numerically-sorted string — an
    // order-insensitive aggregate both engines produce identically. ---
    "q_inverted_index" -> ((s, d) => {
      val grams = table(s, d, "documents")
        // shingles() is per-doc distinct, so COUNT per gram == df
        .select(col("doc_id"),
          explode(TextPipeline.shingles(toks)).as("gram"))
      val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      val rare = dfreq.orderBy(col("df"), col("gram")).limit(100)
      grams.join(broadcast(rare), "gram")
        .groupBy("gram", "df")
        .agg(array_join(
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("postings"))
        .orderBy("gram")
    }),

    // --- per-document TF-IDF keyword extraction: score = tf *
    // floor-log2-idf — ENTIRELY int64, so the ranking needs no float at
    // all (stopwords hit idf 0 and drop out; rare terms surface). tf is
    // one (doc, tok) aggregate with map-side partials; df re-aggregates
    // the same relation (per-doc distinct already); the top-3 per doc
    // runs on the custom bounded-heap TopKPerKey operator — one hash
    // exchange, no per-partition sort, the same operator the
    // window-rank rewrite targets. ---
    "q_tfidf_topk" -> ((s, d) => {
      val e = table(s, d, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
      val tf = e.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = table(s, d, "documents").agg(count(lit(1)).as("n"))
      val scored = tf.join(df_, "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("tf"),
          (col("tf") *
            ((length(bin(floor(col("n").cast("double") / col("df"))
              .cast("long"))) - 1).cast("long"))).as("score"))
        .filter(col("score") > 0)
      graft.plans.TopKPerKey.topKPerKey(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("tok")), 3)
        .orderBy(col("doc_id"), col("score").desc, col("tok"))
    }),

    // --- PageRank power-iteration step (link-graph authority, the
    // crawl-curation primitive) over the token co-occurrence graph:
    // edge s->t with weight c(s,t) = bigram count. One damped step from
    // the uniform vector: r1(t) = 0.15/n + (0.85/n) * sum_s c(s,t)/out(s).
    // The only corpus-sized work is the bigram count (one shuffle with
    // map-side partials, streamed out of the codegen'd NGramGenerator);
    // everything after runs on vocabulary-sized relations, which is the
    // iterated-step cost profile at any scale (the real loop re-joins
    // rank to edges per step, exactly like q_dedup_cluster's label
    // loop). Float determinism: each per-edge ratio is ONE IEEE
    // division of exact int64 operands, floor-quantized to 1e-9
    // transition-probability units (int64) so the incoming-edge sum is
    // exact and order-independent — decimal sums are NOT enough here,
    // DECIMAL(38,18)->DOUBLE conversion differs in the last ulp across
    // engines; the int64 sum stays < 2^53 so its double image and the
    // final affine map are bit-identical everywhere. ---
    "q_pagerank_iter" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val edges = docs
        .select(graft.functions.NGramGenerator(toks, 2).alias("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c"))
        .select(let(split(col("gram"), " ")) { ws =>
          struct(element_at(ws, 1).as("s"), element_at(ws, 2).as("t"))
        }.as("ws"), col("c"))
        .select(col("ws.s").as("src"), col("ws.t").as("dst"), col("c"))
      val out = edges.groupBy("src").agg(sum(col("c")).as("outw"))
      val vocab = docs.select(explode(toks).as("tok")).distinct()
      val n = vocab.agg(count(lit(1)).as("n"))
      val contrib = edges.join(out, "src")
        .select(col("dst"),
          floor((col("c").cast("double") / col("outw").cast("double"))
            * lit(1e9)).cast("long").as("ratio_q"))
        .groupBy("dst").agg(sum(col("ratio_q")).as("rsum"))
      vocab.join(contrib, vocab("tok") === contrib("dst"), "left")
        .crossJoin(broadcast(n))
        .select(col("tok"),
          ((lit(0.15) + lit(0.85) *
            (coalesce(col("rsum"), lit(0L)).cast("double") / lit(1e9))) /
            col("n")).as("rank1"))
        .orderBy(col("rank1").desc, col("tok"))
    }),

    // --- triangle counting (round 6): local clustering signal over the
    // co-ordered-parts graph (parts sharing an order are connected —
    // the market-basket graph). The naive triple self-join explodes on
    // hub nodes (a degree-d node spawns d^2 wedges); the scale shape is
    // DEGREE ORIENTATION: direct every edge from its lower-(degree, id)
    // endpoint to the higher, so wedges only form at a node from its
    // out-edges and every node's out-degree is O(sqrt(edges)) — total
    // wedge work O(m^1.5) regardless of hubs, the textbook bound. Each
    // triangle then has exactly ONE vertex with two out-edges into it
    // and is counted once, no dedup pass. Orientation is
    // result-invisible (the oracle runs the naive id-ordered SQL).
    // Edge build is a self-join of the l_orderkey-bucketed lineitem —
    // zero exchange on both legs; the degree table is |V|-sized
    // (broadcast here; a shuffle join at fleet scale). Output is the
    // top-20 nodes by triangles through their min-vertex role, via
    // TakeOrdered — never a global sort. ---
    "q_graph_triangle" -> ((s, d) => {
      val oriented = orientedTriangleEdges(s, d)
      // SIZE-GATED strategy (round 13, closing the 60x probe): the
      // broadcast edge-iterator's apparent exponent kept climbing
      // (0.70@10x -> 0.66@30x -> 0.91@60x) as the GLOBAL adjacency
      // broadcast grows with |E| — build is driver-serial and every
      // executor pays the full deserialization. The 60x probe MEASURED
      // both strategies at 72M edges: broadcast 87 s (MIN) vs wedge
      // join 402 s — the wedge's Σ C(dout,2) shuffle volume costs far
      // more than the growing broadcast, so there is NO performance
      // crossover in the broadcast-feasible regime and the gate sits
      // at broadcast FEASIBILITY instead: 200M oriented edges ≈ a
      // ~2 GB adjacency, the point where a 2x-broadcast stops fitting
      // typical executor/driver memory budgets and the broadcast plan
      // stops being runnable at all. Past it the co-partitioned wedge
      // join (zero broadcast, two shuffle joins — slower per byte but
      // scales with cluster width and never OOMs a build) takes over.
      // TriangleEquivalenceSpec pins that both spellings return
      // identical rows; SURVEY §6 carries the full adjudication.
      triangleStrategy(oriented.count()) match {
        case "wedge" => triangleByWedge(oriented)
        case _       => triangleByBroadcast(oriented)
      }
    }),

    // --- clustering-coefficient profile (round 14): per DEGREE BAND
    // (floor-log2 of degree — bounded rows at any scale), the pooled
    // local clustering coefficient Σ triangles / Σ wedges of the
    // co-purchase graph. This is the graph-cohesion readout next to
    // q_graph_triangle's hot-node list: how much of each degree
    // class's neighborhood actually closes. Triangles come from the
    // SAME degree-oriented edge-iterator (each triangle found once,
    // then exploded to its three corners); wedges are the exact
    // C(d,2) integers; the one division per band is terminal. All
    // corpus-sized relations are the triangle query's own; the band
    // rollup shuffles O(log dmax) cells. ---
    // --- local-bridge census (round 14): edges belonging to NO
    // triangle — the links whose removal disconnects their
    // neighborhoods (no 2-hop bypass), the structurally-load-bearing
    // complement of q_graph_clustcoef's closure view. A triangle-free
    // edge between high-degree nodes is the classic weak-tie signal
    // (Granovetter) and, operationally, the edge a partition-by-
    // community sharding must NOT cut blindly. Work: the oriented
    // edge DAG + the same found-once triangle stream; each triangle
    // contributes its three edges (all stored in orientation order,
    // so one distinct + one anti-join closes the census) — no new
    // corpus-sized relation. Output per ddst degree band. ---
    "q_graph_bridges" -> ((s, d) => {
      val oriented = orientedTriangleEdges(s, d)
      val triEdges = triangleStream(oriented)
        .select(explode(array(
          struct(col("src").as("src"), col("dst").as("dst")),
          struct(col("src").as("src"), col("c").as("dst")),
          struct(col("dst").as("src"), col("c").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      oriented
        .join(triEdges.withColumn("closed", lit(1L)),
          Seq("src", "dst"), "left")
        .na.fill(0L, Seq("closed"))
        .groupBy((length(bin(col("ddst"))) - 1).cast("long").as("band"))
        .agg(count(lit(1)).as("n_edges"),
          sum(lit(1L) - col("closed")).as("n_bridges"))
        .withColumn("bridge_share",
          col("n_bridges").cast("double") / col("n_edges"))
        .orderBy("band")
    }),

    "q_graph_clustcoef" -> ((s, d) => {
      val oriented = orientedTriangleEdges(s, d)
      val deg = oriented
        .select(explode(array(col("src"), col("dst"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val nodeTri = triangleStream(oriented)
        .select(explode(array(col("src"), col("dst"), col("c")))
          .as("n"))
        .groupBy("n").agg(count(lit(1)).as("t"))
      deg.filter(col("dg") >= 2)
        .join(nodeTri, Seq("n"), "left")
        .na.fill(0L, Seq("t"))
        .select((length(bin(col("dg"))) - 1).cast("long").as("band"),
          col("dg"), col("t"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_nodes"),
          sum((col("t") > 0).cast("long")).as("n_closed_nodes"),
          sum("t").as("sum_tri"),
          sum(expr("dg * (dg - 1) div 2")).as("sum_wedges"))
        .withColumn("coef",
          col("sum_tri").cast("double") / col("sum_wedges"))
        .orderBy("band")
    })
  )

  /** Broadcast-feasibility gate (~2 GB adjacency at 200M oriented
    * edges). A `def` reading a system property so the gate-flip wiring
    * is testable (TriangleEquivalenceSpec forces a tiny cap) — the
    * default is the production bound.
    */
  private[graft] def TriangleBroadcastEdgeCap: Long =
    sys.props.get("graft.triangle.cap").map(_.toLong)
      .getOrElse(200000000L)

  /** Strategy decision, factored out of the query so the gate-flip spec
    * can observe which plan the registered query ACTUALLY chose, not
    * just that the two spellings agree. (The scale probe times the wedge
    * spelling by calling [[triangleByWedge]] directly.)
    */
  @volatile private[graft] var lastTriangleStrategy: String = ""
  private[graft] def triangleStrategy(edgeCount: Long): String = {
    val chosen =
      if (edgeCount <= TriangleBroadcastEdgeCap) "broadcast" else "wedge"
    lastTriangleStrategy = chosen
    chosen
  }

  /** The degree-oriented co-purchase edge DAG shared by both triangle
    * spellings: distinct co-purchase pairs, each stored (src, dst,
    * ddst) with src the (degree, id)-smaller endpoint — the standard
    * orientation that bounds every out-degree at O(sqrt m).
    * localCheckpoint: three consumers below (two wedge legs + the
    * closing-edge side) must not re-run the |E|-sized edge build.
    */
  private[graft] def orientedTriangleEdges(s: SparkSession,
      d: String): DataFrame = {
    // Pre-distinct the (order, part) projection BEFORE the pair
    // self-join (round 15): duplicate lines of the same part in an
    // order — rare in clean data, x1200 under the zipf probe's hot
    // orders — would otherwise multiply QUADRATICALLY through the
    // join (C(dup,2) pairs per order x part) before the post-join
    // distinct collapses them. On the l_orderkey-bucketed scan the
    // aggregate needs NO exchange (HashPartitioning(l_orderkey)
    // satisfies ClusteredDistribution(l_orderkey, l_partkey)), so the
    // clean-data cost is one in-partition hash dedup.
    val li = s.table(Advanced.bucketize(s, d, "lineitem", "l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("u"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("v"))
    val edges = a.hint("merge").join(b.hint("merge"), "l_orderkey")
      .filter(col("u") < col("v"))
      .select("u", "v").distinct()
    val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val withDeg = edges
      .join(broadcast(deg.select(col("n").as("u"), col("dg").as("du"))),
        "u")
      .join(broadcast(deg.select(col("n").as("v"), col("dg").as("dv"))),
        "v")
    val srcFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(srcFirst, col("u")).otherwise(col("v")).as("src"),
      when(srcFirst, col("v")).otherwise(col("u")).as("dst"),
      when(srcFirst, col("dv")).otherwise(col("du")).as("ddst"))
      .localCheckpoint()
  }

  /** Adjacency-broadcast edge-iterator: for each oriented edge (a, b)
    * the closed triangles are N+(a) INTERSECT N+(b), and in the
    * orientation DAG every triangle {x -> y, x -> z, y -> z} is found
    * exactly once — at edge (x, y) with common out-neighbor z. The
    * out-adjacency table is |V| rows (sorted arrays, max length = max
    * out-degree, which the degree orientation bounds at O(sqrt m));
    * BROADCAST twice onto the edge stream, so the O(m^1.5)
    * intersection work is pure map-side and the only rows that ever
    * materialize are the actual triangles — never the wedge
    * cross-product.
    *
    * The broadcast is a MEASURED choice, not a default (round-12 30x
    * probe, 36M edges / 300MB adjacency): forced broadcast 26 s;
    * AQE-chosen sort-merge 50 s (sorts the array-carrying stream);
    * forced shuffle_hash 144 s (re-shuffles ~17 GB of attached
    * neighbor arrays). Its growth term is the driver-serial broadcast
    * build + global redistribution — linear in |E| but unparallelized,
    * which is exactly why the call site flips to [[triangleByWedge]]
    * past [[TriangleBroadcastEdgeCap]].
    */
  private[graft] def triangleByBroadcast(oriented: DataFrame): DataFrame =
    triangleRollup(triangleStream(oriented))

  /** The raw (src, dst, c) triangle stream of the adjacency-broadcast
    * edge-iterator — factored out of [[triangleByBroadcast]] so the
    * clustering-coefficient query can consume triangles per VERTEX
    * ROLE (each triangle counts for all three corners) instead of the
    * min-vertex rollup.
    */
  private[graft] def triangleStream(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    oriented.select("src", "dst")
      .join(broadcast(adj.select(col("src"), col("nb").as("na"))), "src")
      .join(broadcast(adj.select(col("src").as("dst"),
        col("nb").as("nb2"))), "dst")
      .select(col("src"), col("dst"),
        explode(array_intersect(col("na"), col("nb2"))).as("c"))
  }

  /** Co-partitioned WEDGE JOIN: wedges (pivot -> b, pivot -> c) stream
    * out of a src-keyed self-join of the oriented DAG — each unordered
    * pair emitted once, normalized to the SAME (degree, id) total
    * order the orientation uses, so the closing edge is findable by
    * ONE equi-join against the oriented edge set on (b, c). Wedge
    * volume is the Σ C(dout, 2) ≤ O(m^1.5) bound the degree
    * orientation guarantees, and every byte of it moves through
    * ordinary hash shuffles — no driver-serial build, no global
    * rebroadcast — so wall time scales with cluster width and the plan
    * never OOMs a broadcast build. That volume is also why it LOSES to
    * the edge-iterator while a broadcast is still feasible (60x probe,
    * 72M edges: wedge 402 s vs broadcast 87 s — the wedges outweigh
    * the adjacency ~20:1 on this graph); it is the BEYOND-broadcast
    * plan, not a faster one. House rule applies: exploded/self-joined
    * relations carry lying stats, so both legs hint shuffle_merge
    * (never let AQE broadcast them).
    */
  private[graft] def triangleByWedge(oriented: DataFrame): DataFrame = {
    val l1 = oriented.select(col("src"), col("dst").as("b"),
      col("ddst").as("db"))
    val l2 = oriented.select(col("src"), col("dst").as("c"),
      col("ddst").as("dc"))
    val wedges = l1.hint("shuffle_merge")
      .join(l2.hint("shuffle_merge"), "src")
      // normalize the pair to the orientation's (degree, id) order —
      // emits each unordered pair exactly once AND matches how the
      // closing edge is stored in `oriented`
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("src"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"),
      col("dst").as("c"))
    val tri = wedges.hint("shuffle_merge")
      .join(closing.hint("shuffle_merge"), Seq("b", "c"))
      .select(col("src"), col("b").as("dst"), col("c"))
    triangleRollup(tri)
  }

  private def triangleRollup(tri: DataFrame): DataFrame =
    tri.select(least(col("src"), col("dst"), col("c")).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
      .orderBy(col("tri").desc, col("node")).limit(20)

  /** DuckDB CTE block `d/w/s` + score expression for the BM25 scoring
    * pipeline — shared by the `q_rank_bm25` and `q_rank_fusion` oracles.
    */
  private[operators] val bm25Cte: String = {
    val stats = Terms.indices.map(i =>
      s"""SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i""")
      .mkString(",\n|           ")
    val tf = Terms.zipWithIndex.map { case (t, i) =>
      s"""CAST(len(list_filter(tk, x -> x = '$t')) AS BIGINT) AS tf$i"""
    }.mkString(",\n|         ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |           FROM documents),
       |w AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
       |         $tf
       |      FROM d),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |           CAST(SUM(dl) AS BIGINT) AS a,
       |           $stats
       |      FROM w)""".stripMargin
  }

  /** SQL twin of [[bm25Score]] for an integer coefficient set. */
  private[operators] def bm25ScoreSqlFor(cNum: Long, cDen0: Long,
      cDenA: Long, cDenDl: Long): String = Terms.indices.map { i =>
    s"""CAST(length(bin(CAST(floor(CAST(2*n - 2*df$i + 1 AS DOUBLE)
       |      / (2*df$i + 1)) AS BIGINT))) - 1 AS DOUBLE)
       |    * (CAST($cNum*a*tf$i AS DOUBLE)
       |       / CAST($cDen0*a*tf$i + $cDenA*a + $cDenDl*dl*n AS DOUBLE))"""
      .stripMargin
  }.mkString("\n|  + ")

  private val bm25ScoreSql: String = bm25ScoreSqlFor(22, 10, 3, 9)

  override def oracle: Map[String, String] = Map(
    // naive spelling: an edge is a bridge iff NO common neighbor
    // exists; the band reproduces the orientation's ddst = degree of
    // the (degree, id)-larger endpoint
    "q_graph_bridges" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |ed AS (SELECT u AS a, v AS b FROM e
        |       UNION ALL SELECT v, u FROM e),
        |cl AS (SELECT e.u, e.v,
        |    CASE WHEN EXISTS (SELECT 1 FROM ed x JOIN ed y
        |        ON x.b = y.b AND x.a = e.u AND y.a = e.v)
        |      THEN 1 ELSE 0 END AS closed,
        |    CASE WHEN (du.dg, e.u) < (dv.dg, e.v) THEN dv.dg
        |      ELSE du.dg END AS ddst
        |  FROM e JOIN deg du ON du.n = e.u
        |    JOIN deg dv ON dv.n = e.v)
        |SELECT CAST(length(bin(ddst)) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(1 - closed) AS BIGINT) AS n_bridges,
        |  CAST(SUM(1 - closed) AS DOUBLE) / COUNT(*) AS bridge_share
        |FROM cl GROUP BY 1 ORDER BY band""".stripMargin,

    // same naive triple join as q_graph_triangle's oracle, but each
    // triangle credited to all three corners before the degree-band
    // rollup; floor-log2 via the bin-length idiom (no libm)
    "q_graph_clustcoef" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM
        |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nt AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM
        |  (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY 1),
        |j AS (SELECT deg.n, dg, COALESCE(t, 0) AS t
        |  FROM deg LEFT JOIN nt ON nt.n = deg.n WHERE dg >= 2)
        |SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_closed_nodes,
        |  CAST(SUM(t) AS BIGINT) AS sum_tri,
        |  CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS sum_wedges,
        |  CAST(SUM(t) AS DOUBLE)
        |    / CAST(SUM(dg * (dg - 1) // 2) AS DOUBLE) AS coef
        |FROM j GROUP BY 1 ORDER BY band""".stripMargin,

    // naive id-ordered triple join: each triangle (a < b < c) appears
    // once as e1=(a,b), e2=(b,c), e3=(a,c); e1.u is the min vertex —
    // the degree orientation on the Spark side must be result-invisible
    "q_graph_triangle" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |           FROM lineitem a JOIN lineitem b
        |             ON a.l_orderkey = b.l_orderkey
        |            AND a.l_partkey < b.l_partkey)
        |SELECT u AS node, COUNT(*) AS tri
        |FROM (SELECT e1.u FROM e e1
        |      JOIN e e2 ON e1.v = e2.u
        |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |GROUP BY 1 ORDER BY tri DESC, node LIMIT 20""".stripMargin,

    "q_rank_bm25" ->
      s"""WITH $bm25Cte
        |SELECT doc_id, dl, tf0 AS tf_rare,
        |  $bm25ScoreSql
        |  AS bm25
        |FROM w CROSS JOIN s
        |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,

    "q_rank_fusion" ->
      s"""WITH $bm25Cte,
        |lex AS (SELECT doc_id,
        |          $bm25ScoreSql
        |          AS bm25
        |        FROM w CROSS JOIN s),
        |lt AS (SELECT doc_id, bm25 FROM lex
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |lr AS (SELECT doc_id, CAST(row_number() OVER (
        |         ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex FROM lt),
        |x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |        unnest(list_transform(embedding, e ->
        |          CAST(floor(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT))) AS v
        |      FROM embeddings),
        |n2 AS (SELECT vec_id, SUM(v * v) AS nn FROM x GROUP BY vec_id),
        |dotp AS (SELECT b.vec_id AS doc_id, SUM(a.v * b.v) AS dd
        |         FROM x a JOIN x b ON a.i = b.i
        |                          AND a.vec_id = 0 AND b.vec_id <> 0
        |         GROUP BY b.vec_id),
        |vs AS (SELECT doc_id,
        |         CAST(dd AS DOUBLE) /
        |           (sqrt(CAST(np.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
        |           AS cos
        |       FROM dotp JOIN n2 np ON np.vec_id = 0
        |                 JOIN n2 nb ON nb.vec_id = doc_id),
        |vt AS (SELECT doc_id, cos FROM vs
        |       ORDER BY cos DESC, doc_id LIMIT 20),
        |vr AS (SELECT doc_id, CAST(row_number() OVER (
        |         ORDER BY cos DESC, doc_id) AS BIGINT) AS r_vec FROM vt)
        |SELECT doc_id, r_lex, r_vec,
        |  (CASE WHEN r_lex IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + r_lex)
        |        ELSE CAST(0 AS DOUBLE) END
        |   + CASE WHEN r_vec IS NOT NULL
        |        THEN CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + r_vec)
        |        ELSE CAST(0 AS DOUBLE) END) AS rrf
        |FROM lr FULL OUTER JOIN vr USING (doc_id)
        |ORDER BY rrf DESC, doc_id""".stripMargin,

    "q_rank_ndcg" ->
      s"""WITH $bm25Cte,
        |sc AS (SELECT doc_id, tf0,
        |         $bm25ScoreSql
        |         AS bm25
        |       FROM w CROSS JOIN s),
        |t AS (SELECT doc_id, bm25, LEAST(tf0, 3) AS rel FROM sc
        |      ORDER BY bm25 DESC, doc_id LIMIT 10),
        |r AS (SELECT rel,
        |        CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |          AS BIGINT) AS rk,
        |        CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
        |          AS BIGINT) AS irk
        |      FROM t),
        |a AS (SELECT
        |        CAST(SUM(rel * (6 // (length(bin(rk + 1)) - 1)))
        |          AS BIGINT) AS dcg6,
        |        CAST(SUM(rel * (6 // (length(bin(irk + 1)) - 1)))
        |          AS BIGINT) AS idcg6,
        |        MIN(CASE WHEN rel > 0 THEN rk END) AS first_rel,
        |        CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_rel
        |      FROM r)
        |SELECT dcg6, idcg6,
        |  CASE WHEN idcg6 > 0
        |       THEN CAST(dcg6 AS DOUBLE) / CAST(idcg6 AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS ndcg_at_10,
        |  coalesce(CAST(1 AS DOUBLE) / first_rel, CAST(0 AS DOUBLE)) AS mrr,
        |  CAST(n_rel AS DOUBLE) / 10.0 AS p_at_10
        |FROM a""".stripMargin,

    "q_prf_expand" ->
      s"""WITH $bm25Cte,
        |sc AS (SELECT doc_id,
        |         $bm25ScoreSql
        |         AS bm25
        |       FROM w CROSS JOIN s),
        |t5 AS (SELECT doc_id FROM sc ORDER BY bm25 DESC, doc_id LIMIT 5),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents),
        |tf5 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf5
        |        FROM tk JOIN t5 USING (doc_id) GROUP BY 1),
        |dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |x AS (SELECT tok, tf5, df,
        |        CAST(length(bin((16 * n) // df)) - 1 AS BIGINT) AS idf_fl
        |      FROM tf5 JOIN dfc USING (tok) CROSS JOIN nn),
        |y AS (SELECT tok, tf5, df, idf_fl, tf5 * idf_fl AS score
        |      FROM x WHERE tf5 * idf_fl > 0
        |      ORDER BY score DESC, tok LIMIT 10)
        |SELECT tok, tf5, df, idf_fl, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, tok) AS BIGINT)
        |    AS rnk
        |FROM y ORDER BY rnk""".stripMargin,

    "q_err_rank" ->
      s"""WITH $bm25Cte,
        |sc AS (SELECT doc_id, tf0,
        |         $bm25ScoreSql
        |         AS bm25
        |       FROM w CROSS JOIN s),
        |t AS (SELECT doc_id, bm25, LEAST(tf0, 3) AS rel FROM sc
        |      ORDER BY bm25 DESC, doc_id LIMIT 10),
        |r AS (SELECT doc_id, rel,
        |        CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
        |          AS BIGINT) AS rk,
        |        CAST(COALESCE(product(4 - rel) OVER (
        |          ORDER BY bm25 DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          1) AS BIGINT) AS prod_before
        |      FROM t),
        |x AS (SELECT doc_id, rel, rk, prod_before,
        |        rel * prod_before
        |          * (CAST(1 AS BIGINT) << CAST(20 - rk * 2 AS INTEGER))
        |          * (2520 // rk) AS term_scaled
        |      FROM r)
        |SELECT rk, doc_id, rel, prod_before, term_scaled,
        |  CAST(CAST(SUM(term_scaled) OVER (ORDER BY rk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS DOUBLE) / 2642411520.0 AS err_cum
        |FROM x ORDER BY rk""".stripMargin,

    "q_inverted_index" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |s AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |        range(1, greatest(len(tk) - 2, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |      FROM t),
        |d AS (SELECT gram, COUNT(*) AS df FROM s GROUP BY gram),
        |r AS (SELECT gram, df FROM d ORDER BY df, gram LIMIT 100)
        |SELECT r.gram, r.df,
        |  string_agg(CAST(s.doc_id AS VARCHAR), ','
        |             ORDER BY s.doc_id) AS postings
        |FROM s JOIN r USING (gram)
        |GROUP BY r.gram, r.df
        |ORDER BY r.gram""".stripMargin,

    "q_tfidf_topk" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM e
        |       GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |sc AS (SELECT doc_id, tok, tf,
        |        tf * CAST(length(bin(CAST(floor(CAST(n AS DOUBLE) / df)
        |          AS BIGINT))) - 1 AS BIGINT) AS score
        |       FROM tf JOIN df USING (tok) CROSS JOIN nn),
        |r AS (SELECT doc_id, tok, tf, score,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, tok) AS rn
        |      FROM sc WHERE score > 0)
        |SELECT doc_id, tok, tf, score FROM r WHERE rn <= 3
        |ORDER BY doc_id, score DESC, tok""".stripMargin,

    "q_pagerank_iter" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT unnest(list_transform(
        |        range(1, greatest(len(tk) - 1, 0) + 1),
        |        i -> tk[i] || ' ' || tk[i+1])) AS gram FROM t),
        |e0 AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
        |e AS (SELECT string_split(gram, ' ')[1] AS src,
        |        string_split(gram, ' ')[2] AS dst, c FROM e0),
        |o AS (SELECT src, CAST(SUM(c) AS BIGINT) AS outw
        |      FROM e GROUP BY src),
        |v AS (SELECT DISTINCT unnest(tk) AS tok FROM t),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
        |ctr AS (SELECT dst,
        |          CAST(SUM(CAST(floor(CAST(c AS DOUBLE) / CAST(outw AS DOUBLE)
        |              * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT)
        |            AS rsum
        |        FROM e JOIN o USING (src) GROUP BY dst)
        |SELECT tok,
        |  (CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
        |   * (CAST(COALESCE(rsum, 0) AS DOUBLE)
        |      / CAST(1000000000 AS DOUBLE))) / n AS rank1
        |FROM v LEFT JOIN ctr ON ctr.dst = v.tok CROSS JOIN nn
        |ORDER BY rank1 DESC, tok""".stripMargin
  )
}

package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe bench (round 10): measures how the most expensive
  * queries GROW, not just what they cost. Every plan in this tree is
  * graded statically for 100x behavior; this is the measurement that
  * can falsify those grades cheaply — a query whose wall-time grows
  * super-linearly from sf0.1 to 10x sf0.1 (a hidden quadratic pair
  * explosion, a df-cap that stops capping, a window that re-centralizes)
  * is flagged here long before a fleet run finds it.
  *
  * The 10x dataset is derived from the driver's sf0.1 tables by key-
  * shifted replication (the driver ships no sf1): copy i shifts every
  * entity key by i * (max_key + 1), so referential joins stay intact
  * and each copy contributes the same per-copy work — the null
  * hypothesis is linear growth. Two deliberate de-degenerations keep
  * the replication honest:
  *   - document text gets a per-copy token suffix (vocabulary grows
  *     with the corpus; plain replication would make every doc an
  *     exact 10-way duplicate and blow every near-dup pair relation
  *     quadratically — a property real 10x corpora do not have);
  *   - embeddings get a tiny per-copy additive offset (avoids 10-way
  *     cosine ties that no real corpus exhibits).
  * Streaming queries are excluded: their wall-time is micro-batch
  * harness overhead, not data-volume work.
  *
  * Output: BENCH_SCALE.json with, per probe level, per-query
  * base/scaled seconds, the time ratio, the implied growth exponent
  * log_c(ratio), the OUTPUT ROW COUNTS on both sides plus the
  * per-unit-output exponent log_c(ratio / max(1, out_ratio/c))
  * (round 16 — flags read THIS one, so an output-bound reading like
  * the r14/r15 zipf ssjoin self-adjudicates in the artifact), and a
  * `flagged` list. The zipf level additionally records a candidate
  * census (candidates vs qualifying output) for the two banded dedup
  * pipelines. At the first (10x) level the
  * threshold is 1.3 (super-linear beyond noise); at deeper levels
  * (30x — round-12 ask #6) it tightens to 0.9: the scaled corpus is
  * `copies` DISJOINT shifted components, so honest distributed plans
  * amortize their constants and converge to exponent <= ~0.8 by 30x —
  * near-linear wall growth there means parallelism exhausted or
  * per-copy work creeping super-linear.
  * A separate SKEW level (round 13) measures the three skew-sensitive
  * pipelines — the salted join, the clusterLoop, and the posting-
  * stream build — against a zipf-replicated 10x build where the top 1%
  * of keys own ~28% of rows (see [[buildSkewed]]); the uniform levels'
  * disjoint-key replication can never exercise that axis.
  * Runtime knobs: SPARK_GRAFT_COPIES (default "10,30,60" — comma list;
  * the first level probes the whole pool, deeper levels the steep
  * tail, >= 60x only the graph tail), SPARK_GRAFT_SKEW=off to skip the
  * skew levels, SPARK_GRAFT_SCALE_DIR (root of the built datasets),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY (subset), SPARK_GRAFT_PASSES
  * (default 2) and SPARK_GRAFT_OUT ([[Measure.recordPath]]).
  */
object ScaleProbe {

  /** The 15 most expensive non-streaming queries of BENCH_DETAIL r9,
    * plus the two heaviest round-12 additions (per-lang tertile
    * bucketing over the vocab join; label-propagation soft dedup),
    * plus (round 16, r15 ask #7) every remaining query above ~1.5 s
    * in the r15 quiet BENCH_DETAIL — 27 total, covering the full
    * >1.5 s cost tail: the TOPSIS/rolling-p95/item-cosine/itemsets
    * aggregates, the IPF raking loop, the two round-15 graph
    * additions, the clustering-coefficient edge build, the part-month
    * price index, and one stateful streaming twin (q_streaming_ohlc —
    * its state rows scale with data volume; the uniform build now
    * writes `events` as a single file so the replay builders' glob
    * resolves, the same constraint the zipf build already met).
    */
  val probeQueries: Seq[String] = Seq(
    "q_lsh_curve", "q_minhash_eval", "q_containment", "q_dataset_card",
    "q_ssjoin_prefix", "q_dup_size_dist", "q_dedup_canonical",
    "q_graph_modularity", "q_graph_triangle", "q_split_leakage",
    "q_negative_sample", "q_cross_source_dups", "q_graph_wpath",
    "q_label_prop", "q_graph_commonnbrs",
    "q_ccnet_buckets", "q_soft_dedup",
    "q_topsis_rank", "q_rolling_p95", "q_item_cosine", "q_itemsets3",
    "q_raking_ipf", "q_graph_resource_alloc", "q_graph_pref_attach",
    "q_price_index", "q_graph_clustcoef", "q_streaming_ohlc",
    // round-16 continuation: the one addition above the 1.5 s pool
    // floor (2.62 s quiet at sf0.1) — the Salton card, sharing the
    // df-capped posting emission the commonnbrs/RA entries probe
    "q_graph_salton",
    // round 17 (r16 ask #7): the floor rule is now SPEC-ENFORCED
    // (ProbePoolSpec reads BENCH_DETAIL MINs against this list), and
    // this is the compliance sweep it forced — every remaining
    // non-streaming query above 1.5 s in the r16 BENCH_DETAIL record:
    // the iterative driver-coordination loops (pagerank, k-center,
    // max-coverage, BFS/bridges/k-core), the ngram/text tail (LM,
    // t-score, novelty curve, templates, RAKE, self-BLEU, tf-idf
    // top-k, PRF expansion, corpus pipeline), and the
    // ANN/quality/forecast stragglers.
    "q_select_coverage", "q_template_ngram", "q_corpus_pipeline",
    "q_graph_bfs", "q_kcenter_seed", "q_graph_bridges",
    "q_kcore_prune", "q_ngram_novelty_curve", "q_dedup_minhash",
    "q_self_bleu", "q_pagerank_iter", "q_rake_keywords",
    "q_ann_recall", "q_croston", "q_prf_expand", "q_tfidf_topk",
    "q_quality_ensemble", "q_ngram_lm", "q_ngram_tscore",
    "q_ivf_nprobe_curve",
    // round-17 additions over the floor on their admission bench
    // (1.57 s subset MIN): the DSIR selection pass
    "q_dsir_select",
    // round-17 close-bench ratchet: five borderline queries read over
    // the floor in the 624-query close record (1.53-1.73 s) — the
    // ratchet admits on any qualifying reading and never flaps back
    "q_abc_xyz", "q_assoc_rules", "q_basket_pairs", "q_dedup_spans",
    "q_join_salted",
    // second r17 close window (318.16 s better-of-two): one more
    // borderline admission at 1.51 s
    "q_inverted_index",
    // MRL truncation-recall card (2.84 s admission bench): brute-force
    // probes×corpus×4 widths by design — expected ~linear in volume
    "q_mrl_recall",
    // round-18 open (r17 verdict task #4): the driver's contended r17
    // close window (loadavg 3.2-3.8) read six borderline queries at
    // 1.52-1.69 s — the ratchet admits on ANY qualifying reading and
    // never shrinks, so all six join the pool with 10x probe rows
    "q_cluster_purity", "q_doc_novelty", "q_hits_iter",
    "q_resample_mix", "q_semantic_contam", "q_sim_lsh",
    // round-18 optimization round: the r18-open bench ran in a
    // contended window (loadavg 4.6-7.6; q_seq_gaps read 2.58 s vs
    // 0.54 s in the same day's quieter run) and put eight more
    // borderline queries over the floor — the ratchet admits on ANY
    // qualifying reading and never shrinks
    "q_abc_class", "q_assortativity", "q_chain_ladder", "q_dedup_tfidf",
    "q_hll_rollup", "q_minhash_delta", "q_seq_gaps", "q_session_cooccur",
    // r18 close window (same ambient class, loadavg median 6.8): five
    // more borderliners read 1.52-1.68 s
    "q_tpch_q18", "q_bm25_tuning", "q_bloom_fpr_curve", "q_bpe_train",
    "q_tpch_q21",
    // round-19 open: the committed r18 close record (loadavg median
    // 6.8 — the round's storm class) read six more borderliners at
    // 1.51-2.04 s; the ratchet admits on ANY qualifying reading
    "q_bt_step", "q_cross_elasticity", "q_dedup_fuzzy",
    "q_fleiss_kappa", "q_littles_law", "q_range_bounds",
    // the r19 8-cpu control bench read one more borderliner at 1.56 s
    "q_session_ctr")

  /** The steepest 10x exponents of BENCH_SCALE r10/r11 — the subset
    * deeper levels re-probe (carrying all 15 to 30x would triple the
    * probe's wall cost for queries already flat at 10x).
    */
  val tailQueries: Seq[String] = Seq(
    "q_graph_triangle", "q_ssjoin_prefix", "q_graph_commonnbrs",
    "q_graph_wpath")

  /** The graph tail whose exponent drifted 0.70@10x -> 0.79@30x —
    * levels >= 60x probe ONLY these two (round-12 ask #7: one more
    * doubling tells whether the growth asymptotes at the broadcast-
    * build Amdahl term or keeps climbing toward the m^1.5 bound).
    */
  val graphTail: Seq[String] = Seq(
    "q_graph_triangle", "q_graph_commonnbrs")

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  /** Writes `events` as the single FILE `dst/events.parquet`, not a Spark
    * directory: the streaming replay builders read the dataset dir with
    * pathGlobFilter=events.parquet, which matches nothing inside a
    * directory-shaped table (observed: an empty replay and a MatchError
    * on the min/max row).
    */
  private def writeEvents(events: DataFrame, dst: String): Unit = {
    val stage = new java.io.File(dst, ".stage_events")
    events.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val destF = new java.io.File(dst, "events.parquet")
    org.apache.commons.io.FileUtils.deleteQuietly(destF)
    java.nio.file.Files.move(part.toPath, destF.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
  }

  /** Key-shifted replication of every base table into `dst`. V2
    * (round 16): `events` is written as a single FILE, not a Spark
    * directory — the streaming replay builders read the dataset dir
    * with pathGlobFilter=events.parquet, which matches nothing inside
    * a directory-shaped table (the constraint buildSkewed has met
    * since round 14); the probe pool now carries a stateful twin at
    * the uniform levels too. ~2 MB/copy, so one-task writes are fine
    * even at 60x.
    */
  def buildScaled(s: SparkSession, base: String, dst: String,
      copies: Int): Unit = {
    val done = new java.io.File(dst, "_GRAFT_SCALED_V2")
    if (done.exists()) return
    def read(t: String) = Tables.table(s, base, t)
    val cOff = maxOf(read("customer"), "c_custkey") + 1
    val oOff = maxOf(read("orders"), "o_orderkey") + 1
    val pOff = maxOf(read("part"), "p_partkey") + 1
    val sOff = maxOf(read("supplier"), "s_suppkey") + 1
    val uOff = maxOf(read("events"), "user_id") + 1
    val eOff = maxOf(read("events"), "event_id") + 1
    val dOff = maxOf(read("documents"), "doc_id") + 1
    val vOff = maxOf(read("embeddings"), "vec_id") + 1
    def shift(c: String, off: Long, i: Int): Column =
      (col(c) + lit(off * i)).as(c)
    def replicate(t: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val src = read(t)
      val out = (0 until copies).map(i => copy(src, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scale] built $t x$copies")
    }
    // fixed dimensions: one copy (they are constants at any scale)
    for (t <- Seq("region", "nation"))
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    replicate("customer")((d, i) => d.withColumn("c_custkey",
      shift("c_custkey", cOff, i)))
    replicate("supplier")((d, i) => d.withColumn("s_suppkey",
      shift("s_suppkey", sOff, i)))
    replicate("part")((d, i) => d.withColumn("p_partkey",
      shift("p_partkey", pOff, i)))
    replicate("orders")((d, i) => d
      .withColumn("o_orderkey", shift("o_orderkey", oOff, i))
      .withColumn("o_custkey", shift("o_custkey", cOff, i)))
    replicate("lineitem")((d, i) => d
      .withColumn("l_orderkey", shift("l_orderkey", oOff, i))
      .withColumn("l_partkey", shift("l_partkey", pOff, i))
      .withColumn("l_suppkey", shift("l_suppkey", sOff, i)))
    writeEvents((0 until copies).map(i => read("events")
      .withColumn("event_id", shift("event_id", eOff, i))
      .withColumn("user_id", shift("user_id", uOff, i)))
      .reduce(_ unionByName _), dst)
    System.err.println(s"[scale] built events x$copies (single file)")
    replicate("documents")((d, i) => d
      .withColumn("doc_id", shift("doc_id", dOff, i))
      .withColumn("text", if (i == 0) col("text")
        // "x" separates the back-reference from the copy digit — a bare
        // "$1" + i would parse as group $1i (e.g. $11) in the regex
        // engine, not "group 1 then a digit"
        else regexp_replace(col("text"), "(\\S+)", "$1x" + i.toString)))
    replicate("embeddings")((d, i) => d
      .withColumn("vec_id", shift("vec_id", vOff, i))
      .withColumn("embedding", if (i == 0) col("embedding")
        else transform(col("embedding"),
          x => (x + lit(i.toFloat * 1e-4f)).cast("float"))))
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** Zipf-skewed replication (round 13, r12 ask #1): the uniform levels
    * replicate with DISJOINT per-copy key spaces, so key distributions
    * stay uniform and the salted join / posting pipelines had never
    * been measured under real skew. Here each BASE key's copy count
    * comes from a power ladder over its hash bucket — pmod(xxh64(key),
    * 1000): bucket 0 (0.1% of keys) x1200, 1-9 (0.9%) x180, 10-99 (9%)
    * x30, rest x5 — expected volume factor 10.02x with the top 1% of
    * keys owning ~28% of rows (the "few keys own ~30%" shape skew
    * incidents actually have).
    *
    *   - lineitem keeps l_orderkey UNSHIFTED across copies (the hot
    *     JOIN key is the point) and varies l_linenumber so the salt
    *     column still spreads; orders passes through 1x — the skewed
    *     fact-against-dims shape q_join_salted defends against.
    *   - documents shifts doc_id (it is a primary key) but keeps each
    *     family's text NEAR-dup (one appended per-copy token), so the
    *     posting stream sees viral grams: a x1200 family's shared
    *     grams cross NgramDfCap=256 and must be dropped (the cap IS
    *     the defense under test), x180 families sit just under it —
    *     the worst legal quadratic the cap permits — and the cluster
    *     loop inherits the resulting clique edges. n_chars is NOT
    *     recomputed for the appended token; the three skew probes
    *     tokenize text directly and never read it.
    * Everything else passes through 1x so incidental reads resolve.
    */
  def buildSkewed(s: SparkSession, base: String, dst: String): Unit = {
    // v2 (round 14): events replicate on the user_id ladder too — the
    // stateful-streaming skew probe needs hot STATE keys (a user
    // owning ~28% of the stream), which the v1 passthrough never had
    val done = new java.io.File(dst, "_GRAFT_SKEWED_V2")
    if (done.exists()) return
    def read(t: String) = Tables.table(s, base, t)
    def ladder(key: Column): Column = {
      val b = pmod(xxhash64(key), lit(1000L))
      when(b === 0L, 1200L).when(b < 10L, 180L)
        .when(b < 100L, 30L).otherwise(5L)
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "embeddings"))
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // events: user_id UNSHIFTED across copies (the hot session/state
    // key is the point), event_id shifted so every row stays unique;
    // timestamps repeat, which only deepens each hot session.
    val eOff = maxOf(read("events"), "event_id") + 1
    writeEvents(read("events")
      .withColumn("cp",
        explode(sequence(lit(0L), ladder(col("user_id")) - 1)))
      .withColumn("event_id", col("event_id") + col("cp") * lit(eOff))
      .drop("cp"), dst)
    System.err.println("[scale] built events skew=zipf")
    val li = read("lineitem")
    val lnType = li.schema("l_linenumber").dataType
    li.withColumn("cp",
        explode(sequence(lit(0L), ladder(col("l_orderkey")) - 1)))
      .withColumn("l_linenumber",
        (col("l_linenumber") + col("cp")).cast(lnType))
      .drop("cp")
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    System.err.println("[scale] built lineitem skew=zipf")
    val dOff = maxOf(read("documents"), "doc_id") + 1
    read("documents")
      .withColumn("cp",
        explode(sequence(lit(0L), ladder(col("doc_id")) - 1)))
      .withColumn("text", when(col("cp") === 0L, col("text"))
        .otherwise(concat(col("text"), lit(" zz"),
          col("cp").cast("string"))))
      .withColumn("doc_id", col("doc_id") + col("cp") * lit(dOff))
      .drop("cp")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    System.err.println("[scale] built documents skew=zipf")
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** Hub-degree replication (round 14, r13 ask #3): the zipf build
    * skews JOIN keys and near-dup families but leaves the co-purchase
    * GRAPH's degree distribution untouched (duplicate rows dedup into
    * the same edges), so the degree orientation — whose whole job is
    * bounding hub wedges — had never been measured against a hub. Here
    * every copy shifts l_orderkey/l_suppkey and non-hub l_partkey into
    * disjoint key spaces (uniform `copies`x volume, honest exponent
    * base), but the 0.1% hub parts KEEP their key in every copy: a hub
    * part's co-purchase neighborhood unions across all copies'
    * otherwise-disjoint part sets, so its degree grows ~copies-fold
    * while the typical degree stays flat — the power-law head the
    * uniform levels cannot produce. Only lineitem is rebuilt; the two
    * graph probes read nothing else.
    */
  def buildSkewedGraph(s: SparkSession, base: String, dst: String,
      copies: Int): Unit = {
    val done = new java.io.File(dst, "_GRAFT_HUB")
    if (done.exists()) return
    def read(t: String) = Tables.table(s, base, t)
    val oOff = maxOf(read("orders"), "o_orderkey") + 1
    val pOff = maxOf(read("part"), "p_partkey") + 1
    val sOff = maxOf(read("supplier"), "s_suppkey") + 1
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "documents", "embeddings"))
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    writeEvents(read("events"), dst)
    val li = read("lineitem")
    val hub = pmod(xxhash64(col("l_partkey")), lit(1000L)) === 0L
    (0 until copies).map { i =>
      if (i == 0) li
      else li
        .withColumn("l_orderkey", col("l_orderkey") + lit(oOff * i))
        .withColumn("l_suppkey", col("l_suppkey") + lit(sOff * i))
        .withColumn("l_partkey", when(hub, col("l_partkey"))
          .otherwise(col("l_partkey") + lit(pOff * i)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    System.err.println(s"[scale] built lineitem hub x$copies")
    done.getParentFile.mkdirs()
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  /** The zipf level's probes: the three skew-sensitive pipelines and the
    * pair-emission and sketch shapes added since. A super-linear reading
    * means a hot key serialized the plan, unless the data itself carries
    * more near-dup work (the x180 clique families), adjudicated in
    * SURVEY §6.
    */
  val skewProbes: Seq[String] = Seq(
    "q_join_salted", "q_dedup_cluster",
    // the posting-stream BUILD itself, bypassing the truth cache —
    // the pipeline the df-cap exists to protect
    "ngram_posting_build",
    // the prefix-filtered
    // similarity join against viral tokens (the x1200 family's
    // shared vocabulary is the df-ordering's stress test), and one
    // stateful streaming twin against hot state keys (a user
    // owning ~28% of the stream concentrates one group's state
    // and iterator on a single task)
    "q_ssjoin_prefix", "q_streaming_session",
    // the brief's flagship dedup
    // — template zipf is LSH's adversary (per-(band,bkey) posting
    // lists grow with family size; a xk family emits C(k,2)
    // candidates per colliding band, and every one is genuine
    // output, so the expected reading is output-bound like the
    // ssjoin adjudication, not hot-key serialization);
    "q_dedup_minhash",
    // the sketch family against hot KEYS (events carries the
    // user_id ladder): CMS updates and KMV bounded heaps are
    // commutative map-side merges — both should read ~linear in
    // volume regardless of key skew, and this pins it (q_agg_hll's
    // input table, orders, passes through 1x in this build — its
    // sketch-update shape is the same commutative-merge algebra
    // the CMS entry measures);
    "q_agg_cms", "q_kmv_distinct",
    // and the co-purchase graph derivation against zipf-duplicated
    // lines: every hot order's lines repeat x1200, so the edge
    // self-join would square the duplication without the
    // pre-distinct inside orientedTriangleEdges (which the
    // l_orderkey bucketing makes exchange-free) — this entry is
    // that defense's measurement
    "q_graph_triangle",
    // two pair-emission shapes:
    // the RA link predictor's collect_set postings absorb the
    // zipf line duplication exactly like the triangle pre-distinct
    // (expected ~volume-bound), while the simhash radius eval's
    // banded candidates grow C(k,2) per ×k template family —
    // expected output-bound like q_dedup_minhash, and this entry
    // is the measurement that says which it is
    "q_graph_resource_alloc", "q_simhash_eval",
    // the Salton card shares commonnbrs'
    // df-capped sorted-posting emission (C(df,2) per part — the
    // [2,256] cap is the defense; this is its fourth measurement
    // beside commonnbrs/RA/pref-attach), and the AMS F2 sketch is
    // the same commutative map-side merge algebra the CMS/KMV
    // entries pin (8 sign-sums — expected ~flat under hot keys)
    "q_graph_salton", "q_ams_f2",
    // the two SPAN pipelines against template zipf —
    // their adversary: a ×k repeated template multiplies both the
    // repeated-shingle list (dedup_spans' broadcast-back side) and
    // the benchmark-gram hit stream (contam_spans' map-side
    // match), and every extra hit position is genuine output
    // (islands to cut), so the expected reading is output-bound
    // like q_dedup_minhash — these entries are that measurement.
    // The delta probe rides along: its broadcast side is the
    // delta's band keys, so hot templates inflate candidates but
    // never serialize a key
    "q_dedup_spans", "q_contam_spans", "q_minhash_delta")

  /** The hub level's probes: the degree orientation's actual adversary
    * is the power-law head [[buildSkewedGraph]] produces; the wedge
    * spelling's cost is sum C(d_out, 2), so the head is its adversary
    * even more than the broadcast plan's.
    */
  val hubProbes: Seq[String] = Seq(
    "q_graph_triangle", "q_graph_commonnbrs", "q_graph_triangle_wedge")

  /** A probe by name: a registered query, the wedge spelling of the
    * triangle query, or the posting-stream build.
    */
  private def probe(name: String): (SparkSession, String) => DataFrame =
    name match {
      // The co-partitioned wedge join is the only plan past the
      // broadcast-feasibility gate, so it needs its own measured
      // exponent series next to the broadcast one.
      case "q_graph_triangle_wedge" => (s, d) =>
        operators.Retrieval.triangleByWedge(
          operators.Retrieval.orientedTriangleEdges(s, d))
      case "ngram_posting_build" => operators.TextPipeline.ngramPairsCompute
      case q => SparkEntry.queries(q)
    }

  /** Per-query growth row: raw wall exponent log_c(r_wall) plus the
    * per-unit-output exponent log_c(r_wall / max(1, r_out/c)), the wall
    * growth after crediting output growth BEYOND the volume factor as
    * legitimate work. For fixed-size or volume-linear outputs the two
    * coincide; only when the answer itself grows super-linearly (pair
    * relations under skew) do they diverge. Flags read the per-output
    * one (returned next to the row, unrounded).
    */
  private def growthRow(base: Option[Measure.Sample],
      scaled: Option[Measure.Sample], c: Double): (Map[String, Any], Double) =
    (base, scaled) match {
      case (Some(b), Some(s)) =>
        import Measure.round
        val ratio = s.total / b.total
        val outRatio = if (b.rows > 0) s.rows.toDouble / b.rows else 1.0
        val perOut = math.log(ratio / math.max(1.0, outRatio / c)) / math.log(c)
        (ListMap("base" -> round(b.total), "scaled" -> round(s.total),
          "ratio" -> round(ratio),
          "exponent" -> round(math.log(ratio) / math.log(c)),
          "base_out" -> b.rows, "scaled_out" -> s.rows,
          "out_ratio" -> round(outRatio, 1), "exp_per_out" -> round(perOut)),
          perOut)
      case _ => (ListMap("failed" -> true), Double.NaN)
    }

  /** One probe level: each pass runs every probe on `base`, then on `dst`
    * (so a stall storm taxes both sides of the ratio), the best sample per
    * side gives one growth row per probe over the volume `factor`, and a
    * probe is flagged when its per-output exponent is over `threshold`.
    * The wedge spelling is expected super-linear (its design bound is the
    * O(m^1.5) wedge volume), so it is flagged only past 1.5.
    */
  def probeLevel(spark: SparkSession, base: String, dst: String, factor: Int,
      threshold: Double, probes: Seq[String], passes: Int): Map[String, Any] = {
    def side(tag: String, dir: String) =
      probes.map(q => s"$tag $q" -> (() => probe(q)(spark, dir)))
    val samples = Measure.sweep(side("base", base) ++ side(s"x$factor", dst),
      passes)
    val rows = probes.map(q => q -> growthRow(Measure.best(samples(s"base $q")),
      Measure.best(samples(s"x$factor $q")), factor.toDouble))
    ListMap("threshold" -> threshold,
      "queries" -> ListMap(rows.map { case (q, (row, _)) => q -> row }: _*),
      "flagged" -> rows.collect { case (q, (_, e))
        if e > (if (q.endsWith("_wedge")) 1.5 else threshold) => q })
  }

  def main(args: Array[String]): Unit = {
    val base = Session.sfDir
    val dstRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val levels = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10,30,60")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val skew = !sys.env.get("SPARK_GRAFT_SKEW").contains("off")
    val spark = Session.local()
    // Both sides are warmed as Bench warms: timed passes measure the
    // amortized steady state on both, where a cold first pass would
    // charge one dir the one-time build cost and skew the exponent.
    Session.warm(spark, base)
    def level(dst: String, factor: Int, threshold: Double,
        probes: Seq[String]): Map[String, Any] = {
      Session.warm(spark, dst)
      probeLevel(spark, base, dst, factor, threshold, probes, passes)
    }
    // The first level probes the full pool; deeper levels the steep tail,
    // 60x and beyond only the graph tail. At the first (10x) level the
    // threshold is 1.3 (super-linear beyond noise); deeper it tightens to
    // 0.9: the scaled corpus is disjoint shifted components, so honest
    // distributed plans converge to exponent <= ~0.8 by 30x.
    val uniform = levels.zipWithIndex.map { case (copies, li) =>
      val dst = s"${dstRoot}_$copies"
      buildScaled(spark, base, dst, copies)
      val pool = (if (li == 0) probeQueries else if (copies >= 60) graphTail
        else tailQueries).filter(Session.selected)
      val wedge = if (pool.contains("q_graph_triangle"))
        Seq("q_graph_triangle_wedge") else Nil
      ListMap("copies" -> copies) ++
        level(dst, copies, if (copies >= 30) 0.9 else 1.3, pool ++ wedge)
    }
    val zipf = Option.when(skew) {
      val dst = s"${dstRoot}_zipf"
      buildSkewed(spark, base, dst)
      // Candidate census of the two banded dedup pipelines: candidates vs
      // qualifying output on both sides, so an above-threshold exponent
      // arrives adjudicated (excess flat = output-bound; excess growing =
      // the filter or cap regressing).
      val census = Seq[(String, String => Long)](
        "q_ssjoin_prefix" -> (d => operators.TextPipeline
          .ssjoinCandidates(spark, d, positional = true).count()),
        "q_dedup_minhash" -> (d =>
          operators.Dedup.minhashCandidates(spark, d).count()))
        .filter(c => Session.selected(c._1)).flatMap { case (q, cands) =>
          try Some(q -> ListMap("base_cand" -> cands(base),
            "scaled_cand" -> cands(dst)))
          catch { case e: Throwable =>
            System.err.println(s"[scale] census $q failed: $e"); None
          }
        }
      ListMap("skew" -> "zipf", "factor" -> 10) ++
        level(dst, 10, 1.3, skewProbes.filter(Session.selected)) +
        ("census" -> ListMap(census: _*))
    }
    // Uniform copies x volume, so the exponent base is `copies`; the
    // threshold matches the deep uniform levels.
    val hub = Option.when(skew) {
      val dst = s"${dstRoot}_hub"
      buildSkewedGraph(spark, base, dst, 30)
      ListMap("skew" -> "hub", "factor" -> 30) ++
        level(dst, 30, 0.9, hubProbes.filter(Session.selected))
    }
    val record = ListMap("base_dir" -> base, "levels" -> uniform) ++
      zipf.map("skew_level" -> _) ++ hub.map("skew_graph_level" -> _) +
      ("git_sha" -> GitSha.resolve())
    Measure.recordPath("BENCH_SCALE.json").foreach(Measure.writeJson(_, record))
    println(Measure.mapper.writeValueAsString(record))
    spark.stop()
  }
}

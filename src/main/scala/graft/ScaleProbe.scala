package graft

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
  * the first level probes all 17 queries, deeper levels the steep
  * tail, >= 60x only the graph tail), SPARK_GRAFT_SKEW=off to skip the
  * skew level, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY (subset),
  * SPARK_GRAFT_PASSES (default 2).
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
    locally {
      val src = read("events")
      val out = (0 until copies).map(i => src
        .withColumn("event_id", shift("event_id", eOff, i))
        .withColumn("user_id", shift("user_id", uOff, i)))
        .reduce(_ unionByName _)
      val stage = new java.io.File(dst, ".stage_events")
      out.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val destF = new java.io.File(dst, "events.parquet")
      org.apache.commons.io.FileUtils.deleteQuietly(destF)
      java.nio.file.Files.move(part.toPath, destF.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
      System.err.println(s"[scale] built events x$copies (single file)")
    }
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
    // timestamps repeat, which only deepens each hot session. Written
    // as a single FILE, not a Spark directory — the streaming replay
    // builders read the dir with pathGlobFilter=events.parquet, which
    // matches nothing inside a directory-shaped table (observed: an
    // empty replay and a MatchError on the min/max row).
    val eOff = maxOf(read("events"), "event_id") + 1
    locally {
      val stage = new java.io.File(dst, ".stage_events")
      read("events")
        .withColumn("cp",
          explode(sequence(lit(0L), ladder(col("user_id")) - 1)))
        .withColumn("event_id", col("event_id") + col("cp") * lit(eOff))
        .drop("cp")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val destF = new java.io.File(dst, "events.parquet")
      org.apache.commons.io.FileUtils.deleteQuietly(destF)
      java.nio.file.Files.move(part.toPath, destF.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
    }
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
        "orders", "events", "documents", "embeddings"))
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
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

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dstRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val levels = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10,30,60")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .config("spark.local.dir", s"${graft.Scratch.root}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.TopKPerKey.register(spark)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Samples carry the OUTPUT ROW COUNT next to the wall time
    // (round 16, r15 asks #3/#4): a probe whose wall grows because its
    // answer grows (near-dup families emit C(k,2) genuine pairs under
    // template skew) is output-bound, not plan-degenerate — recording
    // the counts in-artifact makes that adjudication automatic instead
    // of a SURVEY-prose appendix next to a standing flag.
    def sampleF(tag: String, q: String, f: String => Long,
        dir: String): Option[(Double, Long)] = {
      val t0 = System.nanoTime()
      val n = try Some(f(dir)) catch { case e: Throwable =>
        System.err.println(s"[scale] FAILED $tag $q: $e"); None }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $tag%-10s $q%-24s $dt%8.2fs" +
        n.map(v => s"  rows=$v").getOrElse(""))
      n.map(v => (dt, v))
    }
    def runQ(q: String): String => Long =
      (dir: String) => SparkEntry.queries(q)(spark, dir).count()
    /** Per-query growth row: raw wall exponent log_c(r_wall) PLUS the
      * per-unit-output exponent log_c(r_wall / max(1, r_out/c)) — the
      * wall growth after crediting output growth BEYOND the volume
      * factor as legitimate work. For fixed-size or volume-linear
      * outputs the two coincide; only when the answer itself grows
      * super-linearly (pair relations under skew) do they diverge, and
      * the flag reads the per-output one — the self-adjudication the
      * r14/r15 ssjoin flags needed prose for.
      */
    def growthRow(q: String, b: Option[(Double, Long)],
        sc: Option[(Double, Long)], c: Double): (String, String, Double) =
      (b, sc) match {
        case (Some((bt, bn)), Some((st, sn))) =>
          val ratio = st / bt
          val expn = math.log(ratio) / math.log(c)
          val outRatio = if (bn > 0) sn.toDouble / bn else 1.0
          val perOut = math.log(ratio / math.max(1.0, outRatio / c)) /
            math.log(c)
          (q, f"""{"base":$bt%.2f,"scaled":$st%.2f,"ratio":$ratio%.2f,""" +
            f""""exponent":$expn%.2f,"base_out":$bn,"scaled_out":$sn,""" +
            f""""out_ratio":$outRatio%.1f,"exp_per_out":$perOut%.2f}""",
            perOut)
        case _ => (q, """{"failed":true}""", Double.NaN)
      }
    // The wedge-forced spelling of the triangle query (round-14, r13
    // ask #2): the co-partitioned wedge join is the ONLY plan available
    // past the broadcast-feasibility gate, so it needs its own measured
    // exponent series next to the broadcast one — shipping the fallback
    // unmeasured would repeat the r12 mistake the broadcast probes
    // fixed. Forced via the in-process property triangleStrategy reads.
    val wedgeTriangle: String => Long = (dir: String) => {
      System.setProperty("graft.triangle.force", "wedge")
      try SparkEntry.queries("q_graph_triangle")(spark, dir).count()
      finally { System.clearProperty("graft.triangle.force"); () }
    }
    def warm(dir: String): Unit =
      try {
        operators.Advanced.bucketize(spark, dir, "lineitem", "l_orderkey")
        operators.Advanced.bucketize(spark, dir, "orders", "o_orderkey")
        operators.Advanced.bucketize(spark, dir, "events", "user_id")
        operators.TextPipeline.prewarmTruth(spark, dir)
      } catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $dir failed (non-fatal): $e")
      }
    // Pre-warm the base dir's one-time materializations (bucketed
    // layouts, the ngram truth relation) exactly as Bench does, so
    // timed passes measure the amortized steady state on BOTH sides —
    // a cold first pass would charge a dir the build cost and skew the
    // exponent.
    warm(base)
    val levelJsons = levels.zipWithIndex.map { case (copies, li) =>
      val dst = s"${dstRoot}_$copies"
      buildScaled(spark, base, dst, copies)
      warm(dst)
      // first level probes the full set; deeper levels the steep tail;
      // 60x and beyond only the graph tail (the one drifting exponent)
      val pool = if (li == 0) probeQueries
        else if (copies >= 60) graphTail
        else tailQueries
      val selected = pool.filter(q => only.forall(_.contains(q)))
      val probeFns: Seq[(String, String => Long)] =
        selected.map(q => q -> runQ(q)) ++
          (if (selected.contains("q_graph_triangle"))
            Seq("q_graph_triangle_wedge" -> wedgeTriangle)
          else Seq.empty)
      // min over passes (same stall-storm estimator as Bench); each
      // pass runs base THEN scaled back to back, so a stall storm
      // taxes both sides of the ratio instead of one. MIN by wall;
      // the row count rides along (identical across passes anyway —
      // the queries are deterministic).
      val passResults = (1 to passes).map { p =>
        val b = probeFns.map { case (q, f) =>
          q -> sampleF(s"b$copies/$p", q, f, base) }.toMap
        val sc = probeFns.map { case (q, f) =>
          q -> sampleF(s"s$copies/$p", q, f, dst) }.toMap
        (b, sc)
      }
      val names = probeFns.map(_._1)
      val baseT = names.map(q =>
        q -> passResults.flatMap(_._1(q)).minByOption(_._1)).toMap
      val scaledT = names.map(q =>
        q -> passResults.flatMap(_._2(q)).minByOption(_._1)).toMap
      val rows = names.map(q =>
        growthRow(q, baseT(q), scaledT(q), copies.toDouble))
      val threshold = if (copies >= 30) 0.9 else 1.3
      // Flags read the PER-OUTPUT exponent (self-adjudicating: output
      // growth beyond the volume factor is credited as work). The
      // wedge series' DESIGN bound is the O(m^1.5) wedge volume — it
      // is expected super-linear (that is why it loses to the
      // broadcast below the gate); flag it only past its own bound.
      val flagged = rows.collect { case (q, _, e)
        if e > (if (q.endsWith("_wedge")) 1.5 else threshold) => q }
      val json = rows.map { case (q, j, _) => "\"" + q + "\":" + j }
        .mkString("{", ",", "}")
      s"""{"copies":$copies,"threshold":$threshold,"queries":$json,""" +
        s""""flagged":${
          flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }
    // ---- skew level (round 13): same base-vs-scaled estimator, but
    // the scaled dir is the zipf-skewed 10x build and the probes are
    // the three skew-sensitive pipelines. The exponent uses c=10 (the
    // nominal volume factor); a super-linear reading here means a hot
    // key serialized the plan, UNLESS the data itself carries more
    // near-dup work (the x180 clique families) — adjudicated in
    // SURVEY §6.
    val skewJson = if (sys.env.get("SPARK_GRAFT_SKEW").contains("off"))
      None
    else {
      val dst = s"${dstRoot}_zipf"
      buildSkewed(spark, base, dst)
      // the truth relation feeds the cluster probe; the bucketed
      // lineitem feeds the round-15 triangle probe (one-time layout
      // cost outside the timed passes, the Bench prewarm discipline)
      try {
        operators.TextPipeline.prewarmTruth(spark, dst)
        operators.Advanced.bucketize(spark, dst, "lineitem", "l_orderkey")
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[scale] skew warmup failed (non-fatal): $e")
      }
      val probes: Seq[(String, String => Long)] = Seq(
        "q_join_salted" -> runQ("q_join_salted"),
        "q_dedup_cluster" -> runQ("q_dedup_cluster"),
        // the posting-stream BUILD itself, bypassing the truth cache —
        // the pipeline the df-cap exists to protect
        "ngram_posting_build" -> ((dir: String) =>
          operators.TextPipeline.ngramPairsCompute(spark, dir)
            .count()),
        // round-14 extensions (r13 ask #3): the prefix-filtered
        // similarity join against viral tokens (the x1200 family's
        // shared vocabulary is the df-ordering's stress test), and one
        // stateful streaming twin against hot state keys (a user
        // owning ~28% of the stream concentrates one group's state
        // and iterator on a single task)
        "q_ssjoin_prefix" -> runQ("q_ssjoin_prefix"),
        "q_streaming_session" -> runQ("q_streaming_session"),
        // round-15 extensions (r14 ask #4): the brief's flagship dedup
        // — template zipf is LSH's adversary (per-(band,bkey) posting
        // lists grow with family size; a xk family emits C(k,2)
        // candidates per colliding band, and every one is genuine
        // output, so the expected reading is output-bound like the r14
        // ssjoin adjudication, not hot-key serialization);
        "q_dedup_minhash" -> runQ("q_dedup_minhash"),
        // the sketch family against hot KEYS (events carries the
        // user_id ladder): CMS updates and KMV bounded heaps are
        // commutative map-side merges — both should read ~linear in
        // volume regardless of key skew, and this pins it (q_agg_hll's
        // input table, orders, passes through 1x in this build — its
        // sketch-update shape is the same commutative-merge algebra
        // the CMS entry measures);
        "q_agg_cms" -> runQ("q_agg_cms"),
        "q_kmv_distinct" -> runQ("q_kmv_distinct"),
        // and the co-purchase graph derivation against zipf-duplicated
        // lines: every hot order's lines repeat x1200, so the edge
        // self-join would square the duplication without the
        // pre-distinct inside orientedTriangleEdges (which the
        // l_orderkey bucketing makes exchange-free) — this entry is
        // that defense's measurement
        "q_graph_triangle" -> runQ("q_graph_triangle"),
        // round-15 second-half additions with pair-emission shapes:
        // the RA link predictor's collect_set postings absorb the
        // zipf line duplication exactly like the triangle pre-distinct
        // (expected ~volume-bound), while the simhash radius eval's
        // banded candidates grow C(k,2) per ×k template family —
        // expected output-bound like q_dedup_minhash, and this entry
        // is the measurement that says which it is
        "q_graph_resource_alloc" -> runQ("q_graph_resource_alloc"),
        "q_simhash_eval" -> runQ("q_simhash_eval"),
        // round-16 continuation: the Salton card shares commonnbrs'
        // df-capped sorted-posting emission (C(df,2) per part — the
        // [2,256] cap is the defense; this is its fourth measurement
        // beside commonnbrs/RA/pref-attach), and the AMS F2 sketch is
        // the same commutative map-side merge algebra the CMS/KMV
        // entries pin (8 sign-sums — expected ~flat under hot keys)
        "q_graph_salton" -> runQ("q_graph_salton"),
        "q_ams_f2" -> runQ("q_ams_f2"),
        // round 17: the two SPAN pipelines against template zipf —
        // their adversary: a ×k repeated template multiplies both the
        // repeated-shingle list (dedup_spans' broadcast-back side) and
        // the benchmark-gram hit stream (contam_spans' map-side
        // match), and every extra hit position is genuine output
        // (islands to cut), so the expected reading is output-bound
        // like q_dedup_minhash — these entries are that measurement.
        // The delta probe rides along: its broadcast side is the
        // delta's band keys, so hot templates inflate candidates but
        // never serialize a key
        "q_dedup_spans" -> runQ("q_dedup_spans"),
        "q_contam_spans" -> runQ("q_contam_spans"),
        "q_minhash_delta" -> runQ("q_minhash_delta"))
      val selected = probes.filter { case (q, _) =>
        only.forall(_.contains(q)) }
      val passResults = (1 to passes).map { p =>
        val b = selected.map { case (q, f) =>
          q -> sampleF(s"bz/$p", q, f, base) }.toMap
        val sc = selected.map { case (q, f) =>
          q -> sampleF(s"sz/$p", q, f, dst) }.toMap
        (b, sc)
      }
      val rows = selected.map { case (q, _) =>
        growthRow(q, passResults.flatMap(_._1(q)).minByOption(_._1),
          passResults.flatMap(_._2(q)).minByOption(_._1), 10.0)
      }
      // per-output flags: a zipf corpus GENUINELY carries C(k,2)
      // qualifying pairs per xk near-dup family, so the raw wall
      // exponent over-indicts output-bound pipelines (the r14/r15
      // ssjoin flag); wall growth is only a defect when it outruns
      // volume-normalized output growth too
      val flagged = rows.collect { case (q, _, e) if e > 1.3 => q }
      // Candidate census for the two banded dedup pipelines (round 16,
      // r15 asks #3/#4): candidates vs qualifying output on both
      // sides, in-artifact — a future above-threshold exponent arrives
      // pre-adjudicated (candidate excess flat = output-bound; excess
      // growing = the filter/cap regressing). One extra count per
      // (pipeline, side); skipped under SPARK_GRAFT_ONLY subsets that
      // exclude the pipeline.
      def censusRow(q: String, f: String => Long): Option[String] =
        if (!only.forall(_.contains(q))) None
        else try {
          val cb = f(base)
          val cs = f(dst)
          Some(s""""$q":{"base_cand":$cb,"scaled_cand":$cs}""")
        } catch { case e: Throwable =>
          System.err.println(s"[scale] census $q failed: $e"); None
        }
      val census = Seq(
        censusRow("q_ssjoin_prefix", dir =>
          operators.TextPipeline
            .ssjoinCandidates(spark, dir, positional = true).count()),
        censusRow("q_dedup_minhash", dir =>
          operators.Dedup.minhashCandidates(spark, dir).count())
      ).flatten
      Some(s"""{"skew":"zipf","factor":10,"threshold":1.3,""" +
        s""""queries":${rows.map { case (q, j, _) => "\"" + q + "\":" + j }
          .mkString("{", ",", "}")},""" +
        s""""census":${census.mkString("{", ",", "}")},""" +
        s""""flagged":${
          flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    }
    // ---- hub-degree graph level (round 14): the two graph probes
    // against the power-law-head co-purchase graph buildSkewedGraph
    // produces — the degree orientation's actual adversary. Uniform
    // copies x volume, so the exponent base is `copies`; threshold
    // matches the deep uniform levels (0.9).
    val hubCopies = 30
    val hubJson = if (sys.env.get("SPARK_GRAFT_SKEW").contains("off"))
      None
    else {
      val dst = s"${dstRoot}_hub"
      buildSkewedGraph(spark, base, dst, hubCopies)
      try {
        operators.Advanced.bucketize(spark, dst, "lineitem", "l_orderkey")
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[scale] hub warmup failed (non-fatal): $e")
      }
      val probes: Seq[(String, String => Long)] = Seq(
        "q_graph_triangle" -> runQ("q_graph_triangle"),
        "q_graph_commonnbrs" -> runQ("q_graph_commonnbrs"),
        // round-15 (r14 ask #8): the wedge fallback's cost is
        // sum C(d_out, 2) — the power-law head is ITS adversary even
        // more than the broadcast plan's, and until now the hub level
        // probed only the broadcast spelling
        "q_graph_triangle_wedge" -> wedgeTriangle)
      val selected = probes.filter { case (q, _) =>
        only.forall(_.contains(q)) }
      val passResults = (1 to passes).map { p =>
        val b = selected.map { case (q, f) =>
          q -> sampleF(s"bh/$p", q, f, base) }.toMap
        val sc = selected.map { case (q, f) =>
          q -> sampleF(s"sh/$p", q, f, dst) }.toMap
        (b, sc)
      }
      val rows = selected.map { case (q, _) =>
        growthRow(q, passResults.flatMap(_._1(q)).minByOption(_._1),
          passResults.flatMap(_._2(q)).minByOption(_._1),
          hubCopies.toDouble)
      }
      // the wedge series keeps its own O(m^1.5) design bound here too
      val flagged = rows.collect { case (q, _, e)
        if e > (if (q.endsWith("_wedge")) 1.5 else 0.9) => q }
      Some(s"""{"skew":"hub","factor":$hubCopies,"threshold":0.9,""" +
        s""""queries":${rows.map { case (q, j, _) => "\"" + q + "\":" + j }
          .mkString("{", ",", "}")},""" +
        s""""flagged":${
          flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    }
    val out = s"""{"base_dir":"$base",""" +
      s""""levels":${levelJsons.mkString("[", ",", "]")},""" +
      skewJson.map(j => s""""skew_level":$j,""").getOrElse("") +
      hubJson.map(j => s""""skew_graph_level":$j,""").getOrElse("") +
      s""""git_sha":"${GitSha.resolve()}"}"""
    // SPARK_GRAFT_OUT redirects the artifact — a SUBSET re-measure
    // (SPARK_GRAFT_ONLY) must never clobber the full record; its rows
    // fold back into BENCH_SCALE.json through the documented MIN rule
    // with the merge noted in the artifact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT",
      "/root/repo/BENCH_SCALE.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes("UTF-8"))
    println(out)
    spark.stop()
  }
}

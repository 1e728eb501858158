package graft

/** Fixture specs for the third round-15 query block (simhash radius
  * eval, preferential attachment, meta-analysis pooling, Bowker
  * symmetry, Little's law).
  */
class Round15BatchCSpec extends SparkSuite {

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s + " 00:00:00")

  test("q_simhash_eval: an identical pair is a radius-0 candidate, a " +
    "truth hit, and perfect precision/recall at every radius") {
    import spark.implicits._
    val dir = tmpDir("simhasheval")
    Seq((1L, "alpha beta gamma delta", "en", "s", 22L),
        (2L, "alpha beta gamma delta", "en", "s", 22L),
        (3L, "zz yy xx ww vv uu tt ss", "en", "s", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_simhash_eval")(spark, dir).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("n_exact"),
        r.getAs[Double]("cand_precision"), r.getAs[Double]("recall")))
    assert(got.length == 4)
    // identical docs: simhash equal (hamming 0), jaccard 1 in truth
    assert(got.forall { case (_, np, nh, ne, p, rc) =>
      np == 1L && nh == 1L && ne == 1L && p == 1.0 && rc == 1.0
    }, got.toSeq.toString)
    cleanup(dir)
  }

  test("q_graph_pref_attach: head pairs ranked by degree product with " +
    "a correct linked flag; unlinked pairs first at equal score") {
    import spark.implicits._
    val dir = tmpDir("prefattach")
    // c1 {p1,p2,p3}, c2 {p1,p4}, c3 {p5}: c1-c2 share p1 (linked,
    // score 6); c1-c3 score 3 unlinked; c2-c3 score 2 unlinked
    Seq((10L, 1L), (20L, 2L), (30L, 3L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 4L),
        (30L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_graph_pref_attach")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sb"),
        r.getAs[Long]("da"), r.getAs[Long]("db"),
        r.getAs[Long]("score"), r.getAs[Long]("linked")))
    assert(got.toSeq == Seq((1L, 2L, 3L, 2L, 6L, 1L),
      (1L, 3L, 3L, 1L, 3L, 0L), (2L, 3L, 2L, 1L, 2L, 0L)))
    cleanup(dir)
  }

  test("q_meta_effect: hand-computed pooled effect, Cochran Q and I2 " +
    "over two planted sources") {
    import spark.implicits._
    val dir = tmpDir("metaeffect")
    // s1: en {100,200} fr {50,150} -> d=50, w100=100
    // s2: en {300} fr {100} -> d=200, w100=50
    // pooled_d=100, Q=7500, I2=7499/7500
    Seq((1L, "t", "en", "s1", 100L), (2L, "t", "en", "s1", 200L),
        (3L, "t", "fr", "s1", 50L), (4L, "t", "fr", "s1", 150L),
        (5L, "t", "en", "s2", 300L), (6L, "t", "fr", "s2", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_meta_effect")(spark, dir).head()
    assert(got.getAs[Long]("k") == 2L)
    assert(got.getAs[Double]("pooled_d") == 100.0)
    assert(got.getAs[Double]("q_stat") == 7500.0)
    assert(got.getAs[Double]("i2") == 7499.0 / 7500.0)
    cleanup(dir)
  }

  test("q_bowker: statistic matches an independent md5 recompute with " +
    "the same integer quantization") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def cls(c: Char): String =
      if (c <= '4') "x" else if (c <= 'a') "y" else "z"
    val dir = tmpDir("bowker")
    val ids = (0L until 200L)
    ids.map(i => (i, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent recompute
    val labs = ids.map { i =>
      val h = md5hex(i.toString)
      (cls(h(0)), cls(h(1)))
    }.filter { case (a, b) => a != b }
    val cells = labs.groupBy { case (a, b) =>
      (Seq(a, b).min, Seq(a, b).max)
    }.map { case (_, v) =>
      val nf = v.count { case (a, b) => a < b }.toLong
      val nr = v.size.toLong - nf
      ((nf - nr) * (nf - nr) * 1000000L) / (nf + nr)
    }.toSeq
    val expDf = cells.size.toLong
    val expChi = cells.sum.toDouble / 1e6
    val got = SparkEntry.queries("q_bowker")(spark, dir).head()
    assert(got.getAs[Long]("df") == expDf)
    assert(got.getAs[Double]("bowker_chi2") == expChi)
    cleanup(dir)
  }

  test("q_rank_rbp: exact rational p=0.8 weights at ranks 1 and 3 " +
    "sum to 1.64e9 scaled; irrelevant rank 2 contributes nothing") {
    import spark.implicits._
    val dir = tmpDir("rbp")
    // probe 0 [1,0] label 1; candidates: 10 (label 1, identical,
    // rank 1), 11 (label 0, cos~0.97, rank 2), 12 (label 1, cos 0,
    // rank 3). ws = 1e9 + 640e6.
    Seq((0L, Array(1.0f, 0.0f), 1), (10L, Array(1.0f, 0.0f), 1),
        (11L, Array(0.8f, 0.2f), 0), (12L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q_rank_rbp")(spark, dir).head()
    assert(got.getAs[Long]("n_probes") == 1L)
    assert(got.getAs[Long]("n_rel") == 2L)
    assert(got.getAs[Double]("mean_rbp")
      == 0.2 * 1640000000.0 / (1e9 * 1.0))
    cleanup(dir)
  }

  test("q_linkage_em_step: hand-counted pattern census and the " +
    "closed-form posterior weights reproduce the one-step update") {
    import spark.implicits._
    val dir = tmpDir("emstep")
    // one source ordered by n_chars: (en,100),(en,105),(fr,200),
    // (en,204) -> patterns: c11=1, c10=2, c01=1, c00=2 (n=6)
    Seq((1L, "t", "en", "s", 100L), (2L, "t", "en", "s", 105L),
        (3L, "t", "fr", "s", 200L), (4L, "t", "en", "s", 204L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent weight recompute (priors p=.1, m=(.9,.8), u=(.3,.2))
    def w(g1: Int, g2: Int): Double = {
      def f(v: Double, g: Int) = if (g == 1) v else 1 - v
      val a = 0.1 * f(0.9, g1) * f(0.8, g2)
      val b = 0.9 * f(0.3, g1) * f(0.2, g2)
      a / (a + b)
    }
    val den = 1.0 * w(1, 1) + 2.0 * w(1, 0) + 1.0 * w(0, 1) +
      2.0 * w(0, 0)
    val nm1 = 1.0 * w(1, 1) + 2.0 * w(1, 0)
    val nm2 = 1.0 * w(1, 1) + 1.0 * w(0, 1)
    val got = SparkEntry.queries("q_linkage_em_step")(spark, dir).head()
    assert(got.getAs[Long]("n_cand") == 6L)
    assert((got.getAs[Long]("c11"), got.getAs[Long]("c10"),
      got.getAs[Long]("c01"), got.getAs[Long]("c00"))
      == ((1L, 2L, 1L, 2L)))
    assert(got.getAs[Double]("p1") == den / 6.0)
    assert(got.getAs[Double]("m1") == nm1 / den)
    assert(got.getAs[Double]("m2") == nm2 / den)
    assert(got.getAs[Double]("u1") == (3.0 - nm1) / (6.0 - den))
    assert(got.getAs[Double]("u2") == (2.0 - nm2) / (6.0 - den))
    cleanup(dir)
  }

  test("q_join_order_greedy: hand-built stats where the textbook " +
    "estimator mis-ranks two of three join orders") {
    import spark.implicits._
    val dir = tmpDir("joingreedy")
    // l: ok 1,1,2,2 / pk 1,1,2,9 (pk 9 dangling); o5 = {1->c1, 3->c2}
    // actuals: a_lo=2 a_loc=2 a_oc=2 a_lp=3 a_lpo=2
    // ests: lo_c_p 4+4=8, oc_l_p 2+4=6, lp_o_c 8/3+8/3=16/3
    Seq((1L, 1L), (1L, 1L), (2L, 2L), (2L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 1L, "1-URGENT"), (2L, 1L, "3-MEDIUM"), (3L, 2L, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(Tuple1(1L), Tuple1(2L)).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq(Tuple1(1L), Tuple1(2L)).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q_join_order_greedy")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("plan"), r.getAs[Double]("est_cost"),
        r.getAs[Long]("actual_cost"), r.getAs[Long]("est_rank"),
        r.getAs[Long]("actual_rank"), r.getAs[Boolean]("agree")))
    val lpEst = 4.0 * 2.0 / 3.0 + 4.0 * 2.0 / 3.0 * 2.0 / 2.0
    assert(got.toSeq == Seq(
      ("lo_c_p", 8.0, 4L, 3L, 1L, false),
      ("lp_o_c", lpEst, 5L, 1L, 3L, false),
      ("oc_l_p", 6.0, 4L, 2L, 2L, true)))
    cleanup(dir)
  }

  test("q_seasonal_mk: two strictly-rising weeks give S=7 over 7 " +
    "seasons, tie-free variance 7, z = 6/sqrt(7)") {
    import spark.implicits._
    val dir = tmpDir("seasonalmk")
    val rows = (1 to 14).map(i =>
      (ts(f"2024-01-${i}%02d"), i.toDouble, i.toLong))
    rows.toDF("ts", "value", "event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_seasonal_mk")(spark, dir).head()
    assert(got.getAs[Long]("n_days") == 14L)
    assert(got.getAs[Long]("n_seasons") == 7L)
    assert(got.getAs[Long]("s") == 7L)
    assert(got.getAs[Double]("z") == 6.0 / math.sqrt(126.0 / 18.0))
    cleanup(dir)
  }

  test("q_ngram_tscore: hand-computed Church/Hanks t for the one " +
    "bigram above the frequency floor") {
    import spark.implicits._
    val dir = tmpDir("tscore")
    // "a b" x5 (passes f>=5), "b a" x4 (filtered); a=5 b=5 N=10
    Seq((1L, "a b a b a b a b a b", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_ngram_tscore")(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("gram") == "a b")
    assert(got(0).getAs[Long]("c2") == 5L)
    assert(got(0).getAs[Double]("t_score")
      == (5.0 - 5.0 * 5.0 / 10.0) / math.sqrt(5.0))
    cleanup(dir)
  }

  test("q_eoq: per-brand demand sums and the Wilson sqrt(2DS/H) " +
    "order size with literal costs") {
    import spark.implicits._
    val dir = tmpDir("eoq")
    Seq((1L, "X"), (2L, "X"), (3L, "Y"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 10.0), (1L, 20.0), (2L, 30.0), (3L, 40.0))
      .toDF("l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_eoq")(spark, dir).collect()
      .map(r => (r.getAs[String]("brand"), r.getAs[Long]("n_parts"),
        r.getAs[Long]("demand"), r.getAs[Double]("eoq"),
        r.getAs[Double]("n_orders")))
    val ex = math.sqrt(2.0 * 60.0 * 50.0 / 2.0)
    val ey = math.sqrt(2.0 * 40.0 * 50.0 / 2.0)
    assert(got.toSeq == Seq(("X", 2L, 60L, ex, 60.0 / ex),
      ("Y", 1L, 40L, ey, 40.0 / ey)))
    cleanup(dir)
  }

  test("q_littles_law: hand-computed monthly arrivals/WIP/cycle and " +
    "the lambda*W prediction (leap-year February has 29 days)") {
    import spark.implicits._
    val dir = tmpDir("littles")
    Seq((1L, ts("2024-01-10")), (2L, ts("2024-01-20")),
        (3L, ts("2024-02-05")))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // o1 completes Jan 15 (cyc 5); o2 completes Feb 10 (cyc 21);
    // o3 completes Feb 6 (cyc 1)
    Seq((1L, ts("2024-01-15")), (2L, ts("2024-01-25")),
        (2L, ts("2024-02-10")), (3L, ts("2024-02-06")))
      .toDF("l_orderkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_littles_law")(spark, dir).collect()
    assert(got.length == 2)
    val jan = got(0); val feb = got(1)
    assert(jan.getAs[java.sql.Date]("month_start").toString
      == "2024-01-01")
    assert(jan.getAs[Long]("arrivals") == 2L)
    assert(jan.getAs[Long]("completions") == 1L)
    assert(jan.getAs[Long]("wip_end") == 1L)
    assert(jan.getAs[Double]("w_days") == 5.0)
    assert(jan.getAs[Double]("lambda_day") == 2.0 / 31)
    assert(jan.getAs[Double]("l_pred") == (2.0 / 31) * 5.0)
    assert(feb.getAs[java.sql.Date]("month_start").toString
      == "2024-02-01")
    assert(feb.getAs[Long]("arrivals") == 1L)
    assert(feb.getAs[Long]("completions") == 2L)
    assert(feb.getAs[Long]("wip_end") == 0L)
    assert(feb.getAs[Double]("w_days") == 11.0)
    assert(feb.getAs[Double]("lambda_day") == 1.0 / 29)
    assert(feb.getAs[Double]("l_pred") == (1.0 / 29) * 11.0)
    cleanup(dir)
  }
}

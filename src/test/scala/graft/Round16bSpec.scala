package graft

/** Closed-form unit fixtures for the round-16 continuation operators
  * (log-rank, two-sample Anderson-Darling, Jonckheere-Terpstra,
  * Bartels rank von Neumann), each driven through the REGISTERED query.
  * Every expected value is derived by hand from the statistic's
  * definition, so a compensating bug shared by the Spark query and its
  * DuckDB oracle cannot pass here.
  */
class Round16bSpec extends SparkSuite {

  private def ts(date: String, hms: String = "00:00:00"): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"$date $hms")

  private def day(i: Int): java.sql.Timestamp = {
    val d = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong - 1)
    ts(d.toString)
  }

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, java.sql.Timestamp, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeOrders(dir: String,
      rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  // ---------------------------------------------------------------- //

  test("q_logrank: hand-tabled 4-user arms (odd users die at dur 2/10, " +
    "even at 5 with one censored) give O1=2, E1=4/3, V=13/18, " +
    "chisq=8/13") {
    val dir = tmpDir("logrank")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(3), 1.0),
      (3L, 3L, "click", day(1), 1.0), (4L, 3L, "click", day(11), 1.0),
      (5L, 2L, "view", day(1), 1.0), (6L, 2L, "view", day(6), 1.0),
      (7L, 4L, "view", day(1), 1.0), (8L, 4L, "view", day(30), 1.0)))
    val r = SparkEntry.queries("q_logrank")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n1_users") == 2L)
    assert(h.getAs[Long]("n0_users") == 2L)
    assert(h.getAs[Long]("o1") == 2L)
    assert(h.getAs[Long]("o0") == 1L)
    // E1 = 1*2/4 + 1*1/3 + 1*1/2 = 4/3 (1e-6-quantized per term)
    assert(math.abs(h.getAs[Double]("e1") - 4.0 / 3) < 2e-6)
    assert(math.abs(h.getAs[Double]("e0") - 5.0 / 3) < 2e-6)
    // V = 1/4 + 2/9 + 1/4 = 13/18; chisq = (2-4/3)^2/(13/18) = 8/13
    assert(math.abs(h.getAs[Double]("chisq") - 8.0 / 13) < 1e-4)
    cleanup(dir)
  }

  test("q_ad2_test: click {1,2} vs view {2,3} gives A2 exactly 1.0 " +
    "(each sample contributes 1/3 + 2/3 over the two cut points)") {
    val dir = tmpDir("ad2")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(1), 2.0),
      (3L, 2L, "view", day(1), 2.0), (4L, 2L, "view", day(1), 3.0)))
    val r = SparkEntry.queries("q_ad2_test")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n1") == 2L)
    assert(h.getAs[Long]("n2") == 2L)
    assert(h.getAs[Long]("l_vals") == 3L)
    assert(h.getAs[Double]("a2") == 1.0)
    cleanup(dir)
  }

  test("q_jonckheere: fully separated priority triples {1,2}<{3,4}<" +
    "{5,6} reach the maximal JT=12 with E=6, Var=19/3, z=6/sqrt(19/3)") {
    val dir = tmpDir("jonck")
    writeOrders(dir, Seq(
      (1L, "1-URGENT", 1.0), (2L, "1-URGENT", 2.0),
      (3L, "2-HIGH", 3.0), (4L, "2-HIGH", 4.0),
      (5L, "3-MEDIUM", 5.0), (6L, "3-MEDIUM", 6.0)))
    val r = SparkEntry.queries("q_jonckheere")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_orders") == 6L)
    assert(h.getAs[Double]("jt") == 12.0)
    assert(h.getAs[Double]("e_jt") == 6.0)
    assert(math.abs(h.getAs[Double]("var_jt") - 19.0 / 3) < 1e-12)
    assert(math.abs(h.getAs[Double]("z")
      - 6.0 / math.sqrt(19.0 / 3)) < 1e-12)
    cleanup(dir)
  }

  test("q_jonckheere: ties split pair credit — {1,1} vs {1,3} gives " +
    "JT = 2*0.5 + 2 = 3 (two ties at 1, two clear wins)") {
    val dir = tmpDir("jonck2")
    writeOrders(dir, Seq(
      (1L, "1-URGENT", 1.0), (2L, "1-URGENT", 1.0),
      (3L, "2-HIGH", 1.0), (4L, "2-HIGH", 3.0)))
    val r = SparkEntry.queries("q_jonckheere")(spark, dir).collect()
    // U_12: x in g1 {1,1}, y in g2 {1,3}: pairs (1,1)=tie .5 x2,
    // (1,3)=win x2 -> U = 3
    assert(r.head.getAs[Double]("jt") == 3.0)
    assert(r.head.getAs[Double]("e_jt") == 2.0)
    cleanup(dir)
  }

  test("q_bartels_rank: daily ranks 1,3,2,4,6,5 give RVN = 56/70 = 0.8 " +
    "and z = -1.2/sqrt(20/37)") {
    val dir = tmpDir("bartels")
    writeEvents(dir, Seq(1.0, 3.0, 2.0, 4.0, 6.0, 5.0).zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, 1L, "click", day(i + 1), v)
    })
    val r = SparkEntry.queries("q_bartels_rank")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_days") == 6L)
    assert(h.getAs[Double]("rvn") == 0.8)
    assert(math.abs(h.getAs[Double]("z")
      - (0.8 - 2.0) / math.sqrt(20.0 / 37)) < 1e-12)
    cleanup(dir)
  }

  test("q_hodges_lehmann: click {1,3} vs view {2,10} has difference " +
    "multiset {-1,1,7,9} -> lower median 1") {
    val dir = tmpDir("hl")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(1), 3.0),
      (3L, 2L, "view", day(1), 2.0), (4L, 2L, "view", day(1), 10.0)))
    val r = SparkEntry.queries("q_hodges_lehmann")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_pairs") == 4L)
    assert(r.head.getAs[Long]("hl_shift") == 1L)
    cleanup(dir)
  }

  test("q_qn_scale: values {1,3,6,10} have pair distances " +
    "{2,3,4,5,7,9}; h=3, k=3 -> Qn raw = 4") {
    val dir = tmpDir("qn")
    writeEvents(dir, Seq(1.0, 3.0, 6.0, 10.0).zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, 1L, "click", day(1), v)
    })
    val r = SparkEntry.queries("q_qn_scale")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n") == 4L)
    assert(h.getAs[Long]("k") == 3L)
    assert(h.getAs[Long]("qn_raw") == 4L)
    assert(math.abs(h.getAs[Double]("qn") - 4 * 2.21914) < 1e-12)
    cleanup(dir)
  }

  test("q_qn_scale: a 3-of-4 tie {5,5,5,9} puts C(3,2)=3 pairs at " +
    "distance 0 -> Qn raw = 0 (the implosion MAD also shows)") {
    val dir = tmpDir("qn0")
    writeEvents(dir, Seq(5.0, 5.0, 5.0, 9.0).zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, 1L, "click", day(1), v)
    })
    val r = SparkEntry.queries("q_qn_scale")(spark, dir).collect()
    assert(r.head.getAs[Long]("qn_raw") == 0L)
    cleanup(dir)
  }

  test("q_crps_empirical: train {1,3} (days 1-2) vs eval {2} (day 20) " +
    "gives CRPS = 1 - 1/2 = 0.5 exactly") {
    val dir = tmpDir("crps")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(2), 3.0),
      (3L, 1L, "click", day(20), 2.0)))
    val r = SparkEntry.queries("q_crps_empirical")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_train") == 2L)
    assert(h.getAs[Long]("n_eval") == 1L)
    assert(h.getAs[Double]("crps") == 0.5)
    cleanup(dir)
  }

  test("q_mean_excess: values 1..10 give u50=5 me50=3, u75=8 me75=1.5, " +
    "u90=9 me90=1") {
    val dir = tmpDir("mex")
    writeEvents(dir, (1 to 10).map(i =>
      (i.toLong, 1L, "click", day(1), i.toDouble)))
    val r = SparkEntry.queries("q_mean_excess")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n") == 10L)
    assert(h.getAs[Long]("u50") == 5L)
    assert(h.getAs[Long]("n50") == 5L)
    assert(h.getAs[Double]("me50") == 3.0)
    assert(h.getAs[Long]("u75") == 8L)
    assert(h.getAs[Double]("me75") == 1.5)
    assert(h.getAs[Long]("u90") == 9L)
    assert(h.getAs[Double]("me90") == 1.0)
    cleanup(dir)
  }

  test("q_mean_excess: a single-value histogram has an empty tail " +
    "above every threshold -> NULL mean excesses") {
    val dir = tmpDir("mex0")
    writeEvents(dir, (1 to 4).map(i =>
      (i.toLong, 1L, "click", day(1), 7.0)))
    val r = SparkEntry.queries("q_mean_excess")(spark, dir).collect()
    val h = r.head
    assert(h.getAs[Long]("n50") == 0L)
    assert(h.isNullAt(h.fieldIndex("me50")))
    cleanup(dir)
  }

  private def writeLineitem(dir: String,
      rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q_graph_salton: postings {1,2} and {1,2,3} give pair (1,2) " +
    "salton 2/sqrt(4)=1, hub scores 1, LHN 0.5") {
    val dir = tmpDir("salton")
    writeLineitem(dir, Seq(
      (1L, 101L), (2L, 101L),
      (1L, 102L), (2L, 102L), (3L, 102L)))
    val r = SparkEntry.queries("q_graph_salton")(spark, dir).collect()
    assert(r.length == 3)
    val h = r.head
    assert(h.getAs[Long]("sa") == 1L && h.getAs[Long]("sb") == 2L)
    assert(h.getAs[Long]("common") == 2L)
    assert(h.getAs[Double]("salton") == 1.0)
    assert(h.getAs[Double]("hub_promoted") == 1.0)
    assert(h.getAs[Double]("hub_depressed") == 1.0)
    assert(h.getAs[Double]("lhn") == 0.5)
    // (1,3) and (2,3): common 1, salton 1/sqrt(2)
    assert(math.abs(r(1).getAs[Double]("salton")
      - 1.0 / math.sqrt(2.0)) < 1e-12)
    cleanup(dir)
  }

  test("q_sample_systematic: ids 1..14 put {3,10} in replicate 1 and " +
    "{5,12} in replicate 2 -> means 65/85, var_mean (m1-m2)^2/4 = 100") {
    val dir = tmpDir("syst")
    writeDocs(dir, (1 to 14).map(i => (i.toLong, "s", i.toLong * 10)))
    val r = SparkEntry.queries("q_sample_systematic")(spark, dir)
      .collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_docs") == 14L)
    assert(h.getAs[Long]("n_rep1") == 2L)
    assert(h.getAs[Long]("n_rep2") == 2L)
    assert(h.getAs[Double]("mean_all") == 75.0)
    assert(h.getAs[Double]("mean_rep1") == 65.0)
    assert(h.getAs[Double]("mean_rep2") == 85.0)
    assert(h.getAs[Double]("var_mean") == 100.0)
    cleanup(dir)
  }

  test("q_safety_stock: daily demands 2/4/6 give var 4, " +
    "SS = 1.645*sqrt(28), ROP = 28 + SS") {
    val dir = tmpDir("sstock")
    val rows = Seq(1 -> 2, 2 -> 4, 3 -> 6).flatMap { case (dayi, k) =>
      (1 to k).map(j =>
        ((dayi * 100 + j).toLong, 1L, "click", day(dayi), 1.0))
    }
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_safety_stock")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_days") == 3L)
    assert(h.getAs[Double]("mu_daily") == 4.0)
    assert(h.getAs[Double]("var_daily") == 4.0)
    assert(math.abs(h.getAs[Double]("safety_stock")
      - 1.645 * math.sqrt(28.0)) < 1e-12)
    assert(math.abs(h.getAs[Double]("reorder_point")
      - (28.0 + 1.645 * math.sqrt(28.0))) < 1e-12)
    cleanup(dir)
  }

  test("q_diebold_mariano: hand series with d = {60, 10} gives " +
    "s2 = 1250, DM = 35/sqrt(625) = 1.4; a constant differential " +
    "guards to NULL") {
    val dir = tmpDir("dm")
    val vals = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 10.0, 90.0)
    writeEvents(dir, vals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, 1L, "click", day(i + 1), v)
    } ++ (1 to 14).map(i =>
      (100L + i, 1L, "view", day(i), 100.0 * i)))
    val r = SparkEntry.queries("q_diebold_mariano")(spark, dir)
      .collect().map(x => x.getAs[String]("event_type") -> x).toMap
    val c = r("click")
    assert(c.getAs[Long]("n_eval") == 2L)
    assert(c.getAs[Double]("mean_d") == 35.0)
    assert(c.getAs[Double]("dm_stat") == 1.4)
    // the linear ramp's d_t = -600 every day -> zero variance -> NULL
    val v = r("view")
    assert(v.getAs[Double]("mean_d") == -600.0)
    assert(v.isNullAt(v.fieldIndex("dm_stat")))
    cleanup(dir)
  }

  test("q_pettitt: two-level series 1,2,3 | 10,11,12 puts the maximal " +
    "U=9 at t=3 (all 9 cross pairs rise), k_norm = 486/252") {
    val dir = tmpDir("pettitt")
    writeEvents(dir, Seq(1.0, 2.0, 3.0, 10.0, 11.0, 12.0).zipWithIndex
      .map { case (v, i) =>
        ((i + 1).toLong, 1L, "click", day(i + 1), v)
      })
    val r = SparkEntry.queries("q_pettitt")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_days") == 6L)
    assert(h.getAs[Long]("t_star") == 3L)
    assert(h.getAs[String]("change_day") == "2024-01-03")
    assert(h.getAs[Long]("u_stat") == 9L)
    assert(h.getAs[Long]("k_stat") == 9L)
    assert(math.abs(h.getAs[Double]("k_norm") - 486.0 / 252.0) < 1e-12)
    cleanup(dir)
  }

  test("q_cox_stuart: series 1,2,3,99,4,5,3 pairs (1,4),(2,5),(3,3): " +
    "two rises, one tie dropped -> z = 2/sqrt(2)") {
    val dir = tmpDir("coxstuart")
    writeEvents(dir, Seq(1.0, 2.0, 3.0, 99.0, 4.0, 5.0, 3.0).zipWithIndex
      .map { case (v, i) =>
        ((i + 1).toLong, 1L, "click", day(i + 1), v)
      })
    val r = SparkEntry.queries("q_cox_stuart")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_days") == 7L)
    assert(h.getAs[Long]("n_pairs") == 2L)
    assert(h.getAs[Long]("s_plus") == 2L)
    assert(math.abs(h.getAs[Double]("z") - math.sqrt(2.0)) < 1e-12)
    cleanup(dir)
  }

  test("q_kendall_w: two days ranking type b above type a both times " +
    "is perfect concordance -> chi2_f = 2, W = 1") {
    val dir = tmpDir("kendallw")
    writeEvents(dir, Seq(
      (1L, 1L, "a", day(1), 1.0),
      (2L, 1L, "b", day(1), 1.0), (3L, 1L, "b", day(1), 1.0),
      (4L, 1L, "a", day(2), 1.0),
      (5L, 1L, "b", day(2), 1.0), (6L, 1L, "b", day(2), 1.0),
      (7L, 1L, "b", day(2), 1.0)))
    val r = SparkEntry.queries("q_kendall_w")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_blocks") == 2L)
    assert(h.getAs[Long]("k") == 2L)
    assert(h.getAs[Double]("chi2_f") == 2.0)
    assert(h.getAs[Double]("w") == 1.0)
    cleanup(dir)
  }

  test("q_design_effect: two perfectly homogeneous 2-event users " +
    "(values 1 and 3) give ICC = 1 and DEFF = m_bar = 2") {
    val dir = tmpDir("deff")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(2), 1.0),
      (3L, 2L, "click", day(1), 3.0), (4L, 2L, "click", day(2), 3.0)))
    val r = SparkEntry.queries("q_design_effect")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("k_users") == 2L)
    assert(h.getAs[Long]("n") == 4L)
    assert(h.getAs[Double]("msb") == 40000.0)
    assert(h.getAs[Double]("msw") == 0.0)
    assert(h.getAs[Double]("m_bar") == 2.0)
    assert(h.getAs[Double]("icc") == 1.0)
    assert(h.getAs[Double]("deff") == 2.0)
    cleanup(dir)
  }

  test("q_mood_scale: click {1,4} vs view {2,3} gives M = 4.5, " +
    "E = 2.5, Var = 4/3 -> z = sqrt(3)") {
    val dir = tmpDir("mood")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 1.0), (2L, 1L, "click", day(1), 4.0),
      (3L, 2L, "view", day(1), 2.0), (4L, 2L, "view", day(1), 3.0)))
    val r = SparkEntry.queries("q_mood_scale")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n1") == 2L && h.getAs[Long]("n2") == 2L)
    assert(h.getAs[Double]("m_stat") == 4.5)
    assert(h.getAs[Double]("e_m") == 2.5)
    assert(math.abs(h.getAs[Double]("z")
      - 2.0 / math.sqrt(4.0 / 3.0)) < 1e-12)
    cleanup(dir)
  }

  test("q_trimmed_mean: {1, 2 x8, 100} with g=1 drops both extremes " +
    "-> trimmed mean 2.0 vs raw 11.7") {
    val dir = tmpDir("trim")
    val vals = Seq(1.0) ++ Seq.fill(8)(2.0) ++ Seq(100.0)
    writeEvents(dir, vals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, 1L, "click", day(1), v)
    })
    val r = SparkEntry.queries("q_trimmed_mean")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n") == 10L)
    assert(h.getAs[Long]("g") == 1L)
    assert(h.getAs[Double]("mean_raw") == 11.7)
    assert(h.getAs[Double]("trimmed_mean") == 2.0)
    cleanup(dir)
  }

  test("q_atkinson: one segment with order values {1.00, 3.00} has " +
    "harmonic/arithmetic 150/200 -> A(2) = 0.25 (1e-12 reciprocal " +
    "grid)") {
    val dir = tmpDir("atkinson")
    import spark.implicits._
    Seq((1L, 1L, 1.0), (2L, 1L, 3.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "AUTOMOBILE"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("q_atkinson")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n") == 2L)
    assert(h.getAs[Double]("mean_price") == 2.0)
    assert(math.abs(h.getAs[Double]("atkinson2") - 0.25) < 1e-9)
    cleanup(dir)
  }

  test("q_quade_test: 2 blocks x 2 types with ranges 2 and 1 gives " +
    "A = 2.5, B = 2.25 -> F = 9 exactly") {
    val dir = tmpDir("quade")
    val rows =
      (1 to 1).map(i => (i.toLong, 1L, "a", day(1), 1.0)) ++
      (1 to 3).map(i => (10L + i, 1L, "b", day(1), 1.0)) ++
      (1 to 2).map(i => (20L + i, 1L, "a", day(2), 1.0)) ++
      (1 to 3).map(i => (30L + i, 1L, "b", day(2), 1.0))
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_quade_test")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_blocks") == 2L)
    assert(h.getAs[Long]("k") == 2L)
    assert(h.getAs[Double]("f_quade") == 9.0)
    cleanup(dir)
  }

  test("q_quade_test: identical blocks are perfect concordance -> " +
    "b*A16 = sum(T4^2), denominator 0 -> NULL guard") {
    val dir = tmpDir("quade0")
    val rows =
      (1 to 1).map(i => (i.toLong, 1L, "a", day(1), 1.0)) ++
      (1 to 3).map(i => (10L + i, 1L, "b", day(1), 1.0)) ++
      (1 to 1).map(i => (20L + i, 1L, "a", day(2), 1.0)) ++
      (1 to 3).map(i => (30L + i, 1L, "b", day(2), 1.0))
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_quade_test")(spark, dir).collect()
    assert(r.head.isNullAt(r.head.fieldIndex("f_quade")))
    cleanup(dir)
  }

  test("q_self_bleu: docs 'a b c'->'a b d'->'x y'->'z' give pair " +
    "precisions 1/2, 0, 0 -> self-BLEU2 = 1/6") {
    val dir = tmpDir("selfbleu")
    import spark.implicits._
    Seq((1L, "s", "a b c"), (2L, "s", "a b d"), (3L, "s", "x y"),
      (4L, "s", "z"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_self_bleu")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_pairs") == 3L)
    assert(h.getAs[Double]("self_bleu2") == 500000.0 / 3000000.0)
    cleanup(dir)
  }

  test("q_ams_f2: a single user is sign-invariant -> every estimator " +
    "equals f^2, median = true F2, rel_err = 0") {
    val dir = tmpDir("ams1")
    writeEvents(dir, (1 to 3).map(i =>
      (i.toLong, 7L, "click", day(1), 1.0)))
    val r = SparkEntry.queries("q_ams_f2")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_users") == 1L)
    // squares accumulate in DECIMAL(38,0) internally; the OUTPUT
    // ships decimal-digit strings (round 18 — the portable-output
    // lattice; a raw DecimalType output hash-diverges at the driver)
    assert(h.getAs[String]("true_f2") == "9")
    assert(h.getAs[String]("est_f2") == "9")
    assert(h.getAs[Double]("rel_err") == 0.0)
    cleanup(dir)
  }

  test("q_ams_f2: two users (f=2, f=1) match the md5-parity-replicated " +
    "lower median of the eight (2s1+s2)^2 estimators") {
    val dir = tmpDir("ams2")
    writeEvents(dir,
      (1 to 2).map(i => (i.toLong, 1L, "click", day(1), 1.0)) ++
        Seq((9L, 2L, "click", day(1), 1.0)))
    def hex(uid: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"ams$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }
    def sign(h: String, j: Int): Long =
      if ("02468ace".contains(h(j - 1))) 1L else -1L
    val ests = (1 to 8).map { j =>
      val e = 2L * sign(hex(1L), j) + 1L * sign(hex(2L), j)
      e * e
    }.sorted
    val expected = ests(3) // lower median of 8
    val r = SparkEntry.queries("q_ams_f2")(spark, dir).collect()
    val h = r.head
    assert(h.getAs[String]("true_f2") == "5")
    assert(h.getAs[String]("est_f2") == expected.toString)
    cleanup(dir)
  }

  test("q_var_es: deltas {-10,5,-15,40,-10} put VaR05 = ES05 = -15 " +
    "(single tail bin at n=5)") {
    val dir = tmpDir("vares")
    val vals = Seq(100.0, 90.0, 95.0, 80.0, 120.0, 110.0)
    writeEvents(dir, vals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, 1L, "click", day(i + 1), v)
    })
    val r = SparkEntry.queries("q_var_es")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_deltas") == 5L)
    assert(h.getAs[Long]("var05") == -15L)
    assert(h.getAs[Double]("es05") == -15.0)
    assert(h.getAs[Long]("var01") == -15L)
    assert(h.getAs[Double]("es01") == -15.0)
    cleanup(dir)
  }

  test("q_tost: arms {8,12} vs {10,14} (means 10/12, Welch se 2) give " +
    "t_lower = 4 > 1.645 and t_upper = -6 < -1.645 -> equivalent") {
    val dir = tmpDir("tost")
    writeEvents(dir, Seq(
      (1L, 1L, "click", day(1), 8.0), (2L, 1L, "click", day(1), 12.0),
      (3L, 2L, "view", day(1), 10.0), (4L, 2L, "view", day(1), 14.0)))
    val r = SparkEntry.queries("q_tost")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Double]("mean1") == 10.0)
    assert(h.getAs[Double]("mean2") == 12.0)
    assert(h.getAs[Double]("t_lower") == 4.0)
    assert(h.getAs[Double]("t_upper") == -6.0)
    assert(h.getAs[Boolean]("equivalent"))
    cleanup(dir)
  }

  /** Breslow-Day fixture users: one user per 2x2 cell per tier, with
    * event mixes hitting the ex (clicks >= 14) / oc (purchases >= 14)
    * thresholds and the tot-based tier cuts.
    */
  private def bdUser(uid: Long, clicks: Int, purchases: Int,
      views: Int): Seq[(Long, Long, String, java.sql.Timestamp, Double)] = {
    val cs = (1 to clicks).map(i =>
      (uid * 1000 + i, uid, "click", day(1), 1.0))
    val ps = (1 to purchases).map(i =>
      (uid * 1000 + 100 + i, uid, "purchase", day(1), 1.0))
    val vs = (1 to views).map(i =>
      (uid * 1000 + 500 + i, uid, "view", day(1), 1.0))
    cs ++ ps ++ vs
  }

  test("q_breslow_day: two identical OR=1 strata fit exactly -> " +
    "psi = 1 (linear path), chi2_BD = 0, df = 1") {
    val dir = tmpDir("bd1")
    // tier 0 (tot < 60): a/b/c/dd one user each; tier 2 (tot >= 70)
    val rows =
      bdUser(1, 20, 20, 0) ++ bdUser(2, 20, 0, 20) ++
        bdUser(3, 0, 20, 20) ++ bdUser(4, 0, 0, 40) ++
        bdUser(5, 20, 20, 35) ++ bdUser(6, 20, 0, 55) ++
        bdUser(7, 0, 20, 55) ++ bdUser(8, 0, 0, 75)
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_breslow_day")(spark, dir).collect()
    assert(r.length == 1)
    val h = r.head
    assert(h.getAs[Long]("n_strata") == 2L)
    assert(h.getAs[Long]("df") == 1L)
    assert(h.getAs[Double]("or_mh") == 1.0)
    assert(h.getAs[Double]("chi2_bd") == 0.0)
    cleanup(dir)
  }

  test("q_breslow_day: two identical OR=4 strata take the quadratic " +
    "root and fit themselves -> chi2_BD ~ 0") {
    val dir = tmpDir("bd4")
    // per tier: a=2 (ex+oc), b=1 (ex), c=1 (oc), dd=2 -> OR = 4
    def stratum(base: Long, pad: Int) =
      bdUser(base, 20, 20, pad) ++ bdUser(base + 1, 20, 20, pad) ++
        bdUser(base + 2, 20, 0, pad + 20) ++
        bdUser(base + 3, 0, 20, pad + 20) ++
        bdUser(base + 4, 0, 0, pad + 40) ++
        bdUser(base + 5, 0, 0, pad + 40)
    writeEvents(dir, stratum(10, 0) ++ stratum(20, 35))
    val r = SparkEntry.queries("q_breslow_day")(spark, dir).collect()
    val h = r.head
    assert(h.getAs[Long]("n_strata") == 2L)
    assert(math.abs(h.getAs[Double]("or_mh") - 4.0) < 0.01)
    assert(math.abs(h.getAs[Double]("chi2_bd")) < 1e-4)
    cleanup(dir)
  }

  private def writeDocsLang(dir: String,
      rows: Seq[(Long, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q_fdr_by: 4-cell grid with two strong cells -> H(4) = 25/12 " +
    "on the 1e-12 grid, BY rejects exactly the two signal cells") {
    val dir = tmpDir("fdrby")
    var id = 0L
    def docs(source: String, lang: String, nLong: Int, nShort: Int) = {
      val l = (1 to nLong).map { _ => id += 1; (id, source, lang, 400L) }
      val sh = (1 to nShort).map { _ => id += 1; (id, source, lang, 100L) }
      l ++ sh
    }
    writeDocsLang(dir,
      docs("s1", "a", 20, 0) ++ docs("s1", "b", 0, 20) ++
        docs("s2", "a", 10, 10) ++ docs("s2", "b", 10, 10))
    val r = SparkEntry.queries("q_fdr_by")(spark, dir).collect()
    assert(r.length == 4)
    val hm = r.head.getAs[Double]("h_m")
    assert(math.abs(hm - 2.083333333333) < 1e-9)
    val rej = r.map(x => x.getAs[Long]("rnk") -> x.getAs[Boolean]("rejected")).toMap
    assert(rej(1L) && rej(2L) && !rej(3L) && !rej(4L))
    cleanup(dir)
  }

  test("q_life_table: mixed death+censor band shows the actuarial " +
    "half-exposure (q = 1/2.5 = 0.4, not 1/3)") {
    val dir = tmpDir("lifetable")
    def span(uid: Long, from: Int, to: Int) = Seq(
      (uid * 10, uid, "click", day(from), 1.0),
      (uid * 10 + 1, uid, "click", day(to), 1.0))
    writeEvents(dir,
      span(1, 1, 3) ++ span(2, 1, 10) ++ span(5, 2, 11) ++
        span(7, 1, 22) ++ span(6, 6, 29) ++ span(3, 1, 30))
    val r = SparkEntry.queries("q_life_table")(spark, dir).collect()
    assert(r.length == 4)
    val byWk = r.map(x => x.getAs[Long]("wk") -> x).toMap
    assert(byWk(0L).getAs[Long]("at_risk") == 6L)
    assert(byWk(0L).getAs[Double]("q_w") == 166666666 / 1e9)
    assert(byWk(1L).getAs[Double]("q_w") == 0.4)
    // wk3: 1 death + 1 censored of 3 at risk -> exposure 2.5
    assert(byWk(3L).getAs[Long]("d") == 1L)
    assert(byWk(3L).getAs[Long]("c") == 1L)
    assert(byWk(3L).getAs[Double]("q_w") == 0.4)
    assert(byWk(4L).getAs[Double]("q_w") == 0.0)
    cleanup(dir)
  }

  test("q_bartels_rank: a constant series has zero rank variance -> " +
    "NULL rvn/z under the den2 guard") {
    val dir = tmpDir("bartels0")
    writeEvents(dir, (1 to 5).map(i =>
      (i.toLong, 1L, "click", day(i), 7.0)))
    val r = SparkEntry.queries("q_bartels_rank")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.isNullAt(r.head.fieldIndex("rvn")))
    assert(r.head.isNullAt(r.head.fieldIndex("z")))
    cleanup(dir)
  }
}

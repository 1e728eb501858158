package graft

/** Closed-form unit/edge fixtures for the eleven round-16 operators,
  * each driven through the REGISTERED query (the entry point Verify and
  * the oracle use). Every expected value below is derived by hand from
  * the statistic's definition, so a compensating bug shared by the
  * Spark query and its DuckDB oracle cannot pass here.
  */
class Round16Spec extends SparkSuite {

  private def ts(date: String, hms: String = "00:00:00"): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"$date $hms")

  private def day(i: Int): java.sql.Timestamp = {
    val d = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong - 1)
    ts(d.toString)
  }

  /** events fixture writer: (event_id, user_id, event_type, ts, value). */
  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, java.sql.Timestamp, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // ---------------------------------------------------------------- //

  test("q_smape: a 100->300 week-over-week step gives sMAPE exactly " +
    "1.0, and an all-zero type drops out (v+f=0 exclusion)") {
    val dir = tmpDir("smape")
    val rows = (1 to 14).map { i =>
      (i.toLong, 1L, "a", day(i), if (i <= 7) 100.0 else 300.0)
    } ++ (1 to 14).map { i =>
      (100L + i, 1L, "z", day(i), 0.0)
    }
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_smape")(spark, dir).collect()
    assert(r.length == 1, r.mkString(","))
    assert(r.head.getAs[String]("event_type") == "a")
    assert(r.head.getAs[Long]("n_eval") == 7L)
    // |300-100| * 2000 / 400 = 1000 permille per day -> mean 1.0
    assert(math.abs(r.head.getAs[Double]("smape") - 1.0) < 1e-12)
    cleanup(dir)
  }

  test("q_theil_u: a linear ramp (slope 100/day) has U2 = 49 exactly " +
    "(the seasonal-naive error is 7x the one-step error)") {
    val dir = tmpDir("theil")
    writeEvents(dir, (1 to 14).map { i =>
      (i.toLong, 1L, "a", day(i), 100.0 * i)
    })
    val r = SparkEntry.queries("q_theil_u")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_eval") == 7L)
    assert(r.head.getAs[Double]("u2") == 49.0)
    assert(r.head.getAs[Double]("theil_u") == 7.0)
    cleanup(dir)
  }

  test("q_winkler_score: exact-rank bounds [1,9] off values 1..10, " +
    "inside/below/above eval rows score 8/18/38 -> mean 64/3") {
    val dir = tmpDir("winkler")
    val cal = (1 to 10).map { i =>
      (i.toLong, 1L, "a", day(i), i.toDouble)
    }
    val eval = Seq((21L, 1L, "a", day(20), 5.0),
      (22L, 1L, "a", day(21), 0.0), (23L, 1L, "a", day(22), 12.0))
    writeEvents(dir, cal ++ eval)
    val r = SparkEntry.queries("q_winkler_score")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("p10") == 1L && row.getAs[Long]("p90") == 9L)
    assert(row.getAs[Long]("n_eval") == 3L)
    assert(math.abs(row.getAs[Double]("mean_winkler") - 64.0 / 3.0)
      < 1e-12)
    cleanup(dir)
  }

  test("q_holm: two completely-separated cells share p = 1/9; both " +
    "adjusted p's are the step-down running max 2/9 and both reject " +
    "at alpha = 0.25") {
    import spark.implicits._
    val dir = tmpDir("holm")
    val docs = (1 to 4).map(i => (i.toLong, "sa", "en", 400L)) ++
      (5 to 8).map(i => (i.toLong, "sb", "en", 100L))
    docs.toDF("doc_id", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_holm")(spark, dir).collect()
    assert(r.length == 2)
    r.foreach { row =>
      // chi2 = n = 8 under complete separation -> p = 1/9
      assert(math.abs(row.getAs[Double]("p") - 1.0 / 9.0) < 1e-12)
      assert(math.abs(row.getAs[Double]("adj_p") - 2.0 / 9.0) < 1e-12)
      assert(row.getAs[Boolean]("rejected"))
    }
    cleanup(dir)
  }

  test("q_yule_k: frequencies {3,1} give K = 1e4*(10-4)/16 = 3750") {
    import spark.implicits._
    val dir = tmpDir("yule")
    Seq((1L, "s1", "a a a b"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_yule_k")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_types") == 2L)
    assert(r.head.getAs[Long]("n_tokens") == 4L)
    assert(r.head.getAs[Double]("yule_k") == 3750.0)
    cleanup(dir)
  }

  test("q_ljung_box: a period-2 alternating series has " +
    "r_k = (8-k)(-1)^k/8 and Q = 31.25 exactly; a constant series " +
    "yields NULLs (the s0 = 0 guard)") {
    val dir = tmpDir("ljung")
    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), if (i % 2 == 1) 200.0 else 0.0)
    })
    val r = SparkEntry.queries("q_ljung_box")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_days") == 8L)
    assert(math.abs(row.getAs[Double]("r1") - (-7.0 / 8)) < 1e-12)
    assert(math.abs(row.getAs[Double]("r2") - 6.0 / 8) < 1e-12)
    assert(math.abs(row.getAs[Double]("r5") - (-3.0 / 8)) < 1e-12)
    assert(math.abs(row.getAs[Double]("q_lb") - 31.25) < 1e-9)

    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), 100.0)
    })
    val c = SparkEntry.queries("q_ljung_box")(spark, dir).collect()
    assert(c.length == 1 && c.head.isNullAt(c.head.fieldIndex("q_lb")),
      "constant series must yield NULL Q, not NaN/crash")
    cleanup(dir)
  }

  test("q_newsvendor: demands {1,1,1,5} at cf=3/4 stock q*=1 with " +
    "zero expected leftover, shortage 1.0, service level 0.75") {
    val dir = tmpDir("newsv")
    // 3 days with one event, 1 day with five events
    val rows = (1 to 3).map { i =>
      (i.toLong, 1L, "a", day(i), 1.0)
    } ++ (1 to 5).map { j => (10L + j, 1L, "a", day(4), 1.0) }
    writeEvents(dir, rows)
    val r = SparkEntry.queries("q_newsvendor")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_days") == 4L)
    assert(row.getAs[Long]("q_star") == 1L)
    assert(row.getAs[Double]("exp_leftover") == 0.0)
    assert(row.getAs[Double]("exp_shortage") == 1.0)
    assert(row.getAs[Double]("service_level") == 0.75)
    cleanup(dir)
  }

  test("q_spc_pchart: a 50% day and a 0% day against p-bar = 0.25 " +
    "are both out of control at 3 sigma with n = 100") {
    val dir = tmpDir("pchart")
    val d1 = (1 to 100).map { i =>
      (i.toLong, 1L, if (i <= 50) "click" else "view", day(1), 1.0)
    }
    val d2 = (1 to 100).map { i =>
      (200L + i, 1L, "view", day(2), 1.0)
    }
    writeEvents(dir, d1 ++ d2)
    val r = SparkEntry.queries("q_spc_pchart")(spark, dir)
      .collect().sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(r.length == 2)
    assert(r(0).getAs[Double]("p") == 0.5 &&
      r(0).getAs[Boolean]("oob"), r(0).toString)
    assert(r(1).getAs[Double]("p") == 0.0 &&
      r(1).getAs[Boolean]("oob"), r(1).toString)
    assert(r.forall(_.getAs[Double]("p_bar") == 0.25))
    cleanup(dir)
  }

  test("q_rank_tau_ap: identical orderings give tau_AP = 1, fully " +
    "reversed orderings give -1") {
    import spark.implicits._
    val dir = tmpDir("tauap")
    def li(qtyOf: Int => Double): Unit =
      (1 to 5).flatMap { p =>
        Seq((p.toLong, (600.0 - 100 * p), qtyOf(p)))
      }.toDF("l_partkey", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    li(p => 60.0 - 10 * p) // same order as revenue
    val r1 = SparkEntry.queries("q_rank_tau_ap")(spark, dir).collect()
    assert(r1.head.getAs[Long]("n_items") == 5L)
    assert(r1.head.getAs[Double]("tau_ap") == 1.0)
    li(p => 10.0 * p) // reversed
    val r2 = SparkEntry.queries("q_rank_tau_ap")(spark, dir).collect()
    assert(r2.head.getAs[Double]("tau_ap") == -1.0)
    cleanup(dir)
  }

  test("q_mood_median: groups fully split around the grand median " +
    "give the textbook chi2 = 4 on a 2x2 with all margins 2") {
    val dir = tmpDir("mood")
    writeEvents(dir, Seq(
      (1L, 1L, "x", day(1), 1.0), (2L, 1L, "x", day(2), 1.0),
      (3L, 1L, "y", day(1), 3.0), (4L, 1L, "y", day(2), 3.0)))
    val r = SparkEntry.queries("q_mood_median")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_groups") == 2L)
    assert(row.getAs[Long]("grand_med") == 1L)
    assert(row.getAs[Double]("chi2") == 4.0)
    cleanup(dir)
  }

  test("q_morans_i / q_gearys_c: a period-2 alternating series has " +
    "I = -1 exactly and C = 1.75") {
    val dir = tmpDir("moran")
    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), if (i % 2 == 1) 200.0 else 0.0)
    })
    val mi = SparkEntry.queries("q_morans_i")(spark, dir).collect().head
    assert(mi.getAs[Long]("n_days") == 8L)
    assert(mi.getAs[Double]("morans_i") == -1.0)
    assert(math.abs(mi.getAs[Double]("e_i") - (-1.0 / 7)) < 1e-15)
    val gc = SparkEntry.queries("q_gearys_c")(spark, dir).collect().head
    // n^2 * 7 * 200^2 / (2 * 8 * 800^2) = 64*280000/10240000 = 1.75
    assert(gc.getAs[Double]("gearys_c") == 1.75)
    cleanup(dir)
  }

  test("q_seasonal_sen: a linear cents ramp has every within-season " +
    "pair slope exactly 100 cents/day") {
    val dir = tmpDir("sen")
    writeEvents(dir, (1 to 14).map { i =>
      (i.toLong, 1L, "a", day(i), i.toDouble)
    })
    val r = SparkEntry.queries("q_seasonal_sen")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_pairs") == 7L)
    assert(r.head.getAs[Double]("sen_slope") == 100.0)
    cleanup(dir)
  }

  test("q_cross_elasticity: brand A volume +1/3 against brand B " +
    "price +1/3 gives e(A,B) = 1; B against A's falling unit price " +
    "gives e(B,A) = -1") {
    import spark.implicits._
    val dir = tmpDir("xela")
    Seq((1L, "BA"), (2L, "BB")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // (partkey, shipdate, extendedprice, quantity): halves split at
    // the date-window midpoint (day1 vs day10)
    Seq((1L, day(1), 1.0, 10.0), (1L, day(10), 1.0, 20.0),
      (2L, day(1), 10.0, 10.0), (2L, day(10), 40.0, 20.0))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_cross_elasticity")(spark, dir)
      .collect().map(row => (row.getAs[String]("brand_a"),
        row.getAs[String]("brand_b")) -> row).toMap
    assert(r.size == 2)
    assert(r(("BA", "BB")).getAs[Double]("cross_elast") == 1.0)
    assert(r(("BB", "BA")).getAs[Double]("cross_elast") == -1.0)
    cleanup(dir)
  }

  test("q_cochran_armitage: bulk rates 0/2, 1/2, 2/2 across line " +
    "positions give chi2 = 4 and z = +2 exactly") {
    import spark.implicits._
    val dir = tmpDir("ca")
    Seq((1L, 1, 10.0), (1L, 2, 30.0), (1L, 3, 30.0),
      (2L, 1, 10.0), (2L, 2, 10.0), (2L, 3, 30.0))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_cochran_armitage")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_bulk") == 3L)
    assert(r.getAs[Long]("t_num") == 12L)
    assert(r.getAs[Double]("ca_chi2") == 4.0)
    assert(r.getAs[Double]("ca_z") == 2.0)
    cleanup(dir)
  }

  test("q_rank_biserial: English docs strictly longer than the rest " +
    "gives r = 1 with U1 = n1*n2") {
    import spark.implicits._
    val dir = tmpDir("rbis")
    Seq((1L, "en", 10L), (2L, "en", 20L), (3L, "fr", 1L),
      (4L, "fr", 2L))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_rank_biserial")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n1") == 2L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Double]("u1") == 4.0)
    assert(r.getAs[Double]("rank_biserial") == 1.0)
    cleanup(dir)
  }

  test("q_turning_points: an alternating series turns at every " +
    "interior day (T = n-2), a monotone ramp never turns, and a " +
    "tied plateau is NOT a turning point (strict comparisons)") {
    val dir = tmpDir("turn")
    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), if (i % 2 == 1) 200.0 else 0.0)
    })
    val alt = SparkEntry.queries("q_turning_points")(spark, dir)
      .collect().head
    assert(alt.getAs[Long]("n_turning") == 6L)
    assert(math.abs(alt.getAs[Double]("e_t") - 4.0) < 1e-12)
    // z = (6 - 4)/sqrt((16*8-29)/90) = 2/sqrt(1.1)
    assert(math.abs(alt.getAs[Double]("z")
      - 2.0 / math.sqrt(99.0 / 90.0)) < 1e-12)

    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), i * 100.0)
    })
    assert(SparkEntry.queries("q_turning_points")(spark, dir)
      .collect().head.getAs[Long]("n_turning") == 0L)

    // plateau 1,2,2,1: day 2 and 3 tie — neither is a strict peak
    writeEvents(dir, Seq(1.0, 2.0, 2.0, 1.0).zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, 1L, "a", day(i + 1), v)
    })
    assert(SparkEntry.queries("q_turning_points")(spark, dir)
      .collect().head.getAs[Long]("n_turning") == 0L)
    cleanup(dir)
  }

  test("q_bowley_skew / q_moors_kurtosis: values 1..8 give the " +
    "closed-form quartiles (2,4,6) and octiles, a symmetric Bowley " +
    "skew of 0 and Moors kurtosis 1.0") {
    val dir = tmpDir("bowley")
    writeEvents(dir, (1 to 8).map { i =>
      (i.toLong, 1L, "a", day(i), i.toDouble)
    })
    val b = SparkEntry.queries("q_bowley_skew")(spark, dir)
      .collect().head
    // cum*4 >= n -> v=2; >= 2n -> 4; >= 3n -> 6
    assert(b.getAs[Long]("q1") == 2L && b.getAs[Long]("q2") == 4L &&
      b.getAs[Long]("q3") == 6L)
    assert(b.getAs[Double]("bowley_skew") == 0.0)
    assert(b.getAs[Double]("qcd") == 0.5)
    assert(b.getAs[Double]("trimean") == 4.0)
    val m = SparkEntry.queries("q_moors_kurtosis")(spark, dir)
      .collect().head
    // octile k at value k (cum*8 = v*8 >= k*8) -> e_k = k
    assert(m.getAs[Long]("e1") == 1L && m.getAs[Long]("e7") == 7L)
    // ((7-5)+(3-1))/(6-2) = 1.0
    assert(m.getAs[Double]("moors_kurt") == 1.0)
    cleanup(dir)
  }

  test("q_page_trend: four perfectly monotone 3-line orders give " +
    "L = 56 (the k=3 maximum) and z = 2*sqrt(2)") {
    import spark.implicits._
    val dir = tmpDir("page")
    (1 to 4).flatMap { ok =>
      Seq((ok.toLong, 1, 10.0), (ok.toLong, 2, 20.0),
        (ok.toLong, 3, 30.0))
    }.toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_page_trend")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_blocks") == 4L)
    assert(row.getAs[Double]("page_l") == 56.0)
    assert(math.abs(row.getAs[Double]("z") - 2.0 * math.sqrt(2.0))
      < 1e-12)
    cleanup(dir)
  }
}

package graft

/** Semantic invariants for the round-8 CorpusStats block (Cramér's V,
  * U-shaped attribution, concordance, coverage curve, Simpson
  * diversity, RBO) at sf0.001.
  */
class CorpusStatsSpec extends SparkSuite {

  test("Cramér's V is bounded and consistent with chi2") {
    val r = q("q_cramers_v").collect().head
    val v = r.getAs[Double]("cramers_v")
    val chi2 = r.getAs[Double]("chi2")
    val n = r.getAs[Long]("n")
    assert(v >= 0.0 && v <= 1.0)
    assert(v == math.sqrt(chi2 / n))
    assert(r.getAs[Long]("n_cells") == 10)
  }

  test("U-shaped attribution credit sums to the converted journeys") {
    import org.apache.spark.sql.functions._
    val rows = q("q_attrib_ushape").collect()
    val totalCredit = rows.map(_.getAs[Double]("credit")).sum
    // total credit == number of (journey, purchase) credited journeys
    // that had at least one touch; recompute driver-side
    val evs = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).toSeq.map { case (_, rows0) =>
      val ordered = rows0.sortBy(r => (r._2, r._3))
      // count journeys (prefix runs before each purchase) with >= 1 touch
      var touches = 0; var journeys = 0
      ordered.foreach { e =>
        if (e._4 == "purchase") {
          if (touches > 0) journeys += 1
          touches = 0
        } else touches += 1
      }
      journeys
    }.sum
    // per-journey credit sums to 1 up to the DECIMAL(18,4) quantization
    assert(math.abs(totalCredit - want) < 0.01 * want + 1.0,
      s"credit $totalCredit vs journeys $want")
    assert(rows.map(_.getAs[String]("channel")).distinct.length ==
      rows.length)
  }

  test("concordance contexts actually surround the needle") {
    import org.apache.spark.sql.functions._
    val texts = Tables.table(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val want = scala.collection.mutable.Map[(String, String), Long]()
    texts.foreach { t =>
      val w = t.split(" ", -1)
      for (i <- 1 until w.length - 1 if w(i) == "join")
        want((w(i - 1), w(i + 1))) =
          want.getOrElse((w(i - 1), w(i + 1)), 0L) + 1
    }
    q("q_concordance").collect().foreach { r =>
      val key = (r.getAs[String]("lft"), r.getAs[String]("rgt"))
      assert(want.get(key).contains(r.getAs[Long]("n")), s"$key")
    }
  }

  test("coverage curve is monotone and bounded") {
    val rows = q("q_coverage_curve").collect()
    assert(rows.nonEmpty)
    val cov = rows.map(r => (r.getAs[Long]("k"), r.getAs[Double]("coverage")))
    cov.sliding(2).foreach {
      case Array((k1, c1), (k2, c2)) => assert(k1 < k2 && c1 <= c2)
      case _ =>
    }
    cov.foreach { case (_, c) => assert(c > 0.0 && c <= 1.0) }
  }

  test("Simpson diversity: effective sources within [1, n_sources]") {
    q("q_simpson_diversity").collect().foreach { r =>
      val inv = r.getAs[Double]("simpson_inv")
      val k = r.getAs[Long]("n_sources")
      assert(inv >= 1.0 - 1e-12 && inv <= k + 1e-9)
      val gs = r.getAs[Double]("gini_simpson")
      assert(gs >= 0.0 && gs < 1.0)
    }
  }

  test("cross-source dup matrix partitions the near-dup pair relation") {
    val rows = q("q_cross_source_dups").collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val pairTotal = q("q_dedup_ngram").count()
    assert(total == pairTotal, s"$total vs $pairTotal")
    rows.foreach { r =>
      val cross = r.getAs[Long]("is_cross")
      val same = r.getAs[String]("s1") == r.getAs[String]("s2")
      assert(cross == (if (same) 0L else 1L))
    }
  }

  test("effective sample size is within (0, n] and deff >= 1") {
    q("q_ess_weights").collect().foreach { r =>
      val n = r.getAs[Long]("n")
      val ess = r.getAs[Double]("ess")
      val deff = r.getAs[Double]("deff")
      assert(ess > 0.0 && ess <= n + 1e-9)
      assert(deff >= 1.0 - 1e-12)
      assert(math.abs(deff - n / ess) < 1e-9)
    }
  }

  test("vocabulary Gini equals a driver-side sorted computation") {
    import org.apache.spark.sql.functions._
    val counts = Tables.table(spark, sf, "documents")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map(_._2.length.toLong).toArray.sorted
    val n = counts.length.toLong
    val s = counts.sum
    val num = counts.zipWithIndex
      .map { case (c, i) => c * (2L * (i + 1) - n - 1) }.sum
    val r = q("q_vocab_gini").collect().head
    assert(r.getAs[Long]("vocab") == n)
    assert(r.getAs[Long]("total") == s)
    val gini = r.getAs[Double]("gini")
    assert(math.abs(gini - num.toDouble / (n * s)) < 1e-12)
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("Apdex is bounded and consistent with its counts") {
    q("q_apdex").collect().foreach { r =>
      val (n, sat, tol) = (r.getAs[Long]("n"), r.getAs[Long]("n_sat"),
        r.getAs[Long]("n_tol"))
      assert(sat + tol <= n)
      val a = r.getAs[Double]("apdex")
      assert(a == (2.0 * sat + tol) / (2.0 * n))
      assert(a >= 0.0 && a <= 1.0)
    }
  }

  test("RBO@10 equals a driver-side dyadic computation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def top10(h: Long): Seq[String] = docs
      .filter(d => d._1 % 2 == h)
      .flatMap(_._2.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.length).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(10).map(_._1)
    val (a, b) = (top10(0), top10(1))
    var scaled = 0L
    for (k <- 1 to 10) {
      val o = a.take(k).toSet.intersect(b.take(k).toSet).size
      scaled += (1L << (10 - k)) * (2520 / k) * o
    }
    val r = q("q_rank_rbo").collect().head
    assert(r.getAs[Long]("scaled") == scaled)
    assert(r.getAs[Double]("rbo10") == scaled / (1024.0 * 2520.0))
  }
}

package graft

/** Semantic invariants for the round-7 Operational + Learning blocks,
  * each checked against an independent driver-side re-derivation on the
  * sf0.001 corpus (the oracle gate checks SQL parity; these check the
  * MATH against a second algorithm).
  */
class OperationalSpec extends SparkSuite {

  test("interval union equals a driver-side sweep per user") {
    import org.apache.spark.sql.functions._
    val raw = Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          round(col("value"), 0).cast("long") * 1000000L).as("en"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = raw.groupBy(_._1).map { case (u, rows) =>
      val iv = rows.map(r => (r._2, r._3)).sortBy(identity)
      var covered = 0L; var islands = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (s0, e0) =>
        if (curE == Long.MinValue || s0 > curE) {
          if (curE != Long.MinValue) covered += curE - curS
          islands += 1; curS = s0; curE = e0
        } else curE = math.max(curE, e0)
      }
      if (curE != Long.MinValue) covered += curE - curS
      u -> ((islands, covered))
    }
    val got = q("q_interval_union").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("greedy allocation conserves lines and never over-allocates") {
    val rows = q("q_alloc_greedy").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, full, part, starved) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(full + part + starved == n,
        s"${r.getString(0)}: $full+$part+$starved != $n")
      assert(r.getDouble(5) >= 0)
    }
    // some brand must be supply-constrained on this corpus, else the
    // query degenerates to a pass-through
    assert(rows.exists(r => r.getLong(3) + r.getLong(4) > 0))
  }

  test("weighted quantiles bracket correctly and match a driver scan") {
    import org.apache.spark.sql.functions._
    val li = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP),
        r.getLong(3), r.getInt(4)))
    def wq(flag: String, q10: Int): BigDecimal = {
      val rows = li.filter(_._1 == flag).sortBy(r => (r._3, r._4, r._5))
      val tot = rows.map(_._2).sum
      var cum = BigDecimal(0)
      rows.find { r => cum += r._2; cum * 10 >= tot * q10 }.get._3
    }
    q("q_weighted_median").collect().foreach { r =>
      val flag = r.getString(0)
      assert(r.getDouble(1) <= r.getDouble(2), s"$flag: wp50 > wp90")
      assert(r.getDouble(1) == wq(flag, 5).toDouble, s"$flag p50")
      assert(r.getDouble(2) == wq(flag, 9).toDouble, s"$flag p90")
    }
  }

  test("rolling backtest scores both forecasters over the same days") {
    val rows = q("q_rolling_backtest").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0)
      // the 7-day mean must not be catastrophically worse than naive
      // on a stationary synthetic series (sanity, not a tight bound)
      assert(r.getDouble(2) < r.getDouble(3) * 5)
    }
  }

  test("Benford audit shares sum to one and match driver counts") {
    import org.apache.spark.sql.functions.col
    val digits = Tables.table(spark, sf, "orders")
      .select(col("o_totalprice")).collect()
      .map(r => r.getDouble(0).floor.toLong.toString.head.asDigit.toLong)
    val want = digits.groupBy(identity).map { case (d, xs) =>
      d -> xs.length.toLong
    }
    val rows = q("q_benford_audit").collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    rows.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) < 0.31))
  }

  test("lag-1 autocorrelation is a valid correlation") {
    val rows = q("q_autocorr").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, s"${r.getString(0)}: $c")
      assert(r.getLong(1) > 1)
    }
  }

  test("power-iteration step emits a unit vector matching a driver product") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x =>
        math.floor(x.toDouble * 1048576.0).toLong).toArray)
    val dim = vecs.head.length
    val s = Array.fill(dim)(BigInt(0))
    vecs.foreach { v => var j = 0; while (j < dim) {
      s(j) += BigInt(v(0)) * BigInt(v(j)); j += 1 } }
    val n2 = s.map(x => x * x).sum
    val got = q("q_power_iter").collect()
    assert(got.length == dim)
    var norm2 = 0.0
    got.foreach { r =>
      val j = r.getLong(0).toInt
      assert(r.getDouble(1) == s(j - 1).toDouble, s"raw at $j")
      assert(r.getDouble(2) ==
        s(j - 1).toDouble / math.sqrt(n2.toDouble), s"comp at $j")
      norm2 += r.getDouble(2) * r.getDouble(2)
    }
    assert(math.abs(norm2 - 1.0) < 1e-9, s"|v|^2 = $norm2")
  }

  test("average precision lies in [0,1] with bounded relevant counts") {
    val rows = q("q_ap_rank").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 10)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      // AP can only be positive when something relevant ranked
      if (r.getLong(1) == 0) assert(r.getDouble(2) == 0.0)
    }
  }

  test("dp counts deviate from true counts by at most the noise bound") {
    import org.apache.spark.sql.functions._
    val truth = Tables.table(spark, sf, "customer")
      .join(Tables.table(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = q("q_dp_count").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = truth(r.getString(0))
      assert(t >= 5, "suppression floor violated")
      assert(math.abs(r.getLong(1) - t) <= 7,
        s"${r.getString(0)}: noise beyond truncation bound")
    }
  }

  test("kNN label audit rates are consistent ratios over the probe slice") {
    import org.apache.spark.sql.functions.col
    val nProbes = Tables.table(spark, sf, "embeddings")
      .filter(col("vec_id") % 7 === 0).count()
    val rows = q("q_knn_label_audit").collect()
    assert(rows.map(_.getLong(1)).sum == nProbes,
      "per-label probe counts must partition the probe slice")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) ==
        r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
  }

  test("conversion-lag percentiles match a driver-side scan") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val lags = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val views = rows.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val ps = rows.filter(r => r._2 == "purchase" && r._3 >= tv)
        if (ps.isEmpty) None
        else Some((u, (ps.map(_._3).min - tv) / 60000000L))
      }
    }.toSeq.sortBy(r => (r._2, r._1))
    def pct(q10: Int): Long = {
      val n = lags.length
      lags.zipWithIndex
        .find { case (_, i) => (i + 1) * 10 >= n * q10 }.get._1._2
    }
    val r = q("q_conv_lag").collect().head
    assert(r.getLong(0) == lags.length)
    assert(r.getLong(1) == pct(5))
    assert(r.getLong(2) == pct(9))
    assert(r.getLong(1) <= r.getLong(2))
  }

  test("item-item cosine neighbors are ranked and normalized") {
    val rows = q("q_item_cosine").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 3, "min co-count violated")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 5)
    }
    // ranks are dense per item and cosine is non-increasing in rank
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2)
          assert(pair(0).getDouble(3) >= pair(1).getDouble(3))
      }
    }
  }

  test("stump sweep equals a driver-side Gini scan over all thresholds") {
    import org.apache.spark.sql.functions._
    val pts = Tables.table(spark, sf, "embeddings")
      .select(col("label").cast("long"),
        floor(element_at(col("embedding"), 1).cast("double") *
          lit(1048576.0)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lo = pts.map(_._2).min; val hi = pts.map(_._2).max
    val n = pts.length.toLong
    def gini(thr: Long): (Long, Long, Double) = {
      val (l, r) = pts.partition(_._2 <= thr)
      def side(xs: Array[(Long, Long)]): Double =
        if (xs.isEmpty) 0.0
        else {
          val ss = xs.groupBy(_._1).values
            .map(g => g.length.toLong * g.length).sum
          xs.length.toDouble - ss.toDouble / xs.length.toDouble
        }
      (l.length.toLong, r.length.toLong, (side(l) + side(r)) / n.toDouble)
    }
    val want = (0 until 20).map { i =>
      val thr = lo + ((i + 1) * (hi - lo)) / 21
      val (nl, nr, g) = gini(thr)
      (i.toLong, thr, nl, nr, g)
    }
    val got = q("q_stump_train").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == want)
    // the sweep must discriminate: not all thresholds equally pure
    assert(got.map(_._5).distinct.length > 1)
  }
}

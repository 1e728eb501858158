package graft

import org.apache.spark.sql.functions._

/** Brute-force re-derivations and plan pins for the Analytics module at
  * sf0.001: dense ids against the global-sort spelling, attribution
  * against the row_number spelling, EWMA against a driver-side
  * recurrence, winsorization against a driver-side order statistic, and
  * the domain-window discipline (every unpartitioned window sits above a
  * HashAggregate) for the three order-statistic queries.
  */
class AnalyticsSpec extends SparkSuite {

  test("dense ids: bucketed assignment equals the global-sort spelling") {
    val got = q("q_dense_ids").collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("dense_id")))
    val keys = Tables.table(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).sorted
    val want = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    assert(got.toSeq == want.toSeq)
  }

  test("attribution: struct-extremum first touch equals the row_number " +
      "spelling and conversion totals reconcile") {
    val got = q("q_attribution").collect()
      .map(r => (r.getAs[String]("first_touch"), r.getAs[Long]("n_users"),
        r.getAs[Long]("converting_users"), r.getAs[Long]("conversions")))
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts").cast("long"),
        unix_micros(col("ts")).as("tus"), col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("tus"), r.getAs[String]("event_type")))
    val byUser = ev.groupBy(_._1)
    val want = byUser.toSeq.map { case (_, es) =>
      val first = es.minBy(e => (e._3, e._2))._4
      val conv = es.count(_._4 == "purchase").toLong
      (first, conv)
    }.groupBy(_._1).map { case (ft, us) =>
      (ft, us.size.toLong, us.count(_._2 > 0).toLong, us.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
    // every user is attributed exactly once
    assert(got.map(_._2).sum == byUser.size)
  }

  test("ewma: dyadic 8-term window equals the driver-side recurrence " +
      "truncation") {
    val got = q("q_ewma_smooth").collect()
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[Long]("event_id")),
        r.getAs[Double]("ewma"))).toMap
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val weights = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)
    var checked = 0
    ev.groupBy(_._1).foreach { case (_, es) =>
      val ordered = es.sortBy(e => (e._3, e._2))
      ordered.sliding(8).foreach { win =>
        if (win.size == 8) {
          // exact decimal arithmetic mirroring DECIMAL(18,4) quantization
          val num = win.reverse.zip(weights).map { case (e, w) =>
            BigDecimal(e._4).setScale(4, BigDecimal.RoundingMode.HALF_UP) * w
          }.sum
          val want = num.toDouble / 255.0
          val key = (win.last._1, win.last._2)
          assert(got.contains(key), s"missing $key")
          assert(got(key) == want, s"$key: ${got(key)} != $want")
          checked += 1
        }
      }
    }
    assert(checked == got.size, s"$checked checked vs ${got.size} emitted")
  }

  test("winsorize: thresholds are the dollar-domain order statistics and " +
      "the clamped sum matches a driver-side recompute") {
    val rows = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val dollars = rows.map(_._2.floor.toLong).sorted
    val n = dollars.length
    def cut(p: Double): Long = dollars(math.ceil(n * p).toInt - 1)
    val (lo, hi) = (cut(0.05), cut(0.95))
    val want = rows.groupBy(_._1).map { case (f, rs) =>
      val s = rs.map { case (_, p) =>
        val c = if (p < lo) lo.toDouble else if (p > hi) hi.toDouble else p
        BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (f, rs.size.toLong, s.toDouble)
    }.toSeq.sortBy(_._1)
    val got = q("q_winsorize").collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n_rows"),
        r.getAs[Double]("sum_winsor"))).toSeq
    assert(got == want)
  }

  test("rfm: scores stay in 1..4, are monotone in the band, and cover " +
      "every customer exactly once") {
    val seg = q("q_rfm_segment").collect()
      .map(r => (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score"), r.getAs[Long]("n_customers")))
    assert(seg.nonEmpty)
    seg.foreach { case (r, f, m, _) =>
      assert(r >= 1 && r <= 4 && f >= 1 && f <= 4 && m >= 1 && m <= 4)
    }
    val nCust = Tables.table(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(seg.map(_._4).sum == nCust)
  }

  test("analytics plans: order-statistic windows run over aggregated " +
      "domains, maps broadcast back, moments are a pure two-phase agg") {
    // rfm / winsorize / dense_ids: every unpartitioned window must sit
    // above a HashAggregate (the band/dollar/bucket domain), never over
    // the row stream. sparkPlan, not executedPlan: AdaptiveSparkPlanExec
    // is a leaf, collect() on it passes vacuously.
    for (name <- Seq("q_rfm_segment", "q_winsorize", "q_dense_ids")) {
      val pe = q(name).queryExecution.sparkPlan
      val globalWindows = pe.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.nonEmpty, s"$name: expected a domain window")
      globalWindows.foreach { w =>
        assert(w.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            => a
        }.nonEmpty,
          s"$name: unpartitioned window over unaggregated input:\n" +
            w.toString.take(2000))
      }
      assert(!pe.toString.contains("CartesianProduct"),
        s"$name: cartesian (threshold attach must broadcast)")
    }
    // the quartile maps and thresholds come back as broadcast joins
    for (name <- Seq("q_rfm_segment", "q_winsorize", "q_dense_ids")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$name: ${p.take(1500)}")
    }
    // corr matrix: one scan, partial moments below the single exchange,
    // no window, no join
    val pc = q("q_corr_matrix").queryExecution.sparkPlan
    assert(pc.toString.contains("partial_sum"), pc.toString.take(2000))
    assert(pc.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "q_corr_matrix must not plan a window")
    assert(!pc.toString.contains("Join"), pc.toString.take(2000))
    // ewma: the eight lags share ONE window operator (one shuffle, one
    // sort), partitioned by user
    val pw = q("q_ewma_smooth").queryExecution.sparkPlan
    val wins = pw.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1, s"expected one fused window, got ${wins.size}")
    assert(wins.head.partitionSpec.nonEmpty)
  }
}

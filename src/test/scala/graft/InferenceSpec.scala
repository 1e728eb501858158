package graft

/** Semantic invariants for the round-8 Inference block (rank-based
  * tests, Theil-Sen, Brier decomposition, proximity, MRR, imputation,
  * assortativity, burn rate) at sf0.001 — driver-side re-derivations
  * and algebraic identities alongside the SQL-parity oracle gate.
  */
class InferenceSpec extends SparkSuite {

  test("Mann-Whitney U equals a driver-side midrank computation") {
    import org.apache.spark.sql.functions._
    val vals = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value"), 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = vals.map(_._2).sorted
    // average rank of value v in the pooled sorted multiset (1-based)
    val rankOf: Map[Long, Double] = sorted.zipWithIndex
      .groupBy(_._1)
      .map { case (v, xs) => v -> (xs.map(_._2 + 1).sum.toDouble / xs.size) }
    val clicks = vals.filter(_._1 == "click")
    val n1 = clicks.size.toLong
    val n2 = vals.size - n1
    val r1 = clicks.map(c => rankOf(c._2)).sum
    val wantU1 = r1 - n1 * (n1 + 1) / 2.0
    val row = q("q_mannwhitney_u").collect().head
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(math.abs(row.getAs[Double]("u1") - wantU1) < 1e-6)
    // identity: U1 + U2 = n1*n2 — recompute U2 from the view arm
    val r2 = vals.filter(_._1 == "view").map(c => rankOf(c._2)).sum
    val wantU2 = r2 - n2 * (n2 + 1) / 2.0
    assert(math.abs((wantU1 + wantU2) - n1.toDouble * n2) < 1e-6)
  }

  test("Kruskal-Wallis H is nonnegative and df-consistent") {
    val row = q("q_kruskal_wallis").collect().head
    assert(row.getAs[Long]("k") == 5)
    val h = row.getAs[Double]("h_stat")
    assert(h >= 0.0 && h.isFinite)
  }

  test("Spearman rho is bounded and equals a driver-side computation") {
    val rows = q("q_spearman_corr").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val rho = r.getAs[Double]("rho")
      assert(rho >= -1.0 - 1e-12 && rho <= 1.0 + 1e-12, s"rho=$rho")
    }
    // driver-side midrank Pearson for one segment
    import org.apache.spark.sql.functions._
    val seg = rows.head.getAs[String]("seg")
    val cust = Tables.table(spark, sf, "customer")
      .filter(col("c_mktsegment") === seg)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ords = Tables.table(spark, sf, "orders")
      .groupBy(col("o_custkey")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val xs = cust.map(_._2)
    val ys = cust.map(c => ords.getOrElse(c._1, 0L))
    def midranks(v: Array[Long]): Array[Double] = {
      val sorted = v.sorted
      val avg = sorted.zipWithIndex.groupBy(_._1)
        .map { case (x, g) => x -> g.map(_._2 + 1).sum.toDouble / g.size }
      v.map(avg)
    }
    val (rx, ry) = (midranks(xs), midranks(ys))
    val n = rx.length
    def mean(a: Array[Double]) = a.sum / n
    val (mx, my) = (mean(rx), mean(ry))
    val cov = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val sx = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum)
    val sy = math.sqrt(ry.map(b => (b - my) * (b - my)).sum)
    val want = cov / (sx * sy)
    val got = rows.head.getAs[Double]("rho")
    assert(math.abs(got - want) < 1e-9, s"got $got want $want")
  }

  test("Theil-Sen median slope lies within the pairwise slope range") {
    import org.apache.spark.sql.functions._
    val daily = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .count().collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2)))
    val byType = daily.groupBy(_._1)
    q("q_theilsen_trend").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val pts = byType(t).map(p => (p._2, p._3)).sortBy(_._1)
      val slopes = for {
        i <- pts.indices; j <- pts.indices if j > i
      } yield (pts(j)._2 - pts(i)._2).toDouble / (pts(j)._1 - pts(i)._1)
      assert(r.getAs[Long]("n_pairs") == slopes.size)
      val med = r.getAs[Double]("slope_med")
      assert(med >= slopes.min && med <= slopes.max)
      // exact median re-derivation (two-middle-rows mean)
      val ss = slopes.sorted
      val n = ss.size
      val want =
        if (n % 2 == 1) ss(n / 2) else (ss(n / 2 - 1) + ss(n / 2)) / 2
      assert(math.abs(med - want) < 1e-12, s"$t: got $med want $want")
    }
  }

  test("Brier decomposition identity holds up to within-bin variance") {
    val r = q("q_brier_decomp").collect().head
    val brier = r.getAs[Double]("brier")
    val rel = r.getAs[Double]("reliability")
    val res = r.getAs[Double]("resolution")
    val unc = r.getAs[Double]("uncertainty")
    // Murphy: brier = rel - res + unc exactly when within-bin forecasts
    // are constant; with 0.1-wide bins the residual (the within-bin
    // forecast variance) is bounded by (width/2)^2 = 0.0025.
    val resid = brier - (rel - res + unc)
    assert(math.abs(resid) <= 0.0025 + 1e-9, s"residual $resid")
    assert(brier >= 0.0 && brier <= 1.0)
    assert(rel >= 0.0 && res >= 0.0 && unc >= 0.0 && unc <= 0.25)
  }

  test("proximity search equals a driver-side position scan") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val pa = toks.zipWithIndex.collect { case ("join", i) => i + 1 }
      val pb = toks.zipWithIndex.collect { case ("hash", i) => i + 1 }
      if (pa.isEmpty || pb.isEmpty) None
      else {
        val dists = for (a <- pa; b <- pb) yield math.abs(a - b)
        val d = dists.min
        if (d <= 5) Some(id -> (d.toLong, pa.length.toLong * pb.length))
        else None
      }
    }.toMap
    val got = q("q_proximity_search").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("min_dist"), r.getAs[Long]("n_pairs"))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("MRR is bounded and consistent with hits") {
    val r = q("q_rank_mrr").collect().head
    val (np, nh) = (r.getAs[Long]("n_probes"), r.getAs[Long]("n_hit"))
    val mrr = r.getAs[Double]("mrr")
    assert(np == 10 && nh <= np)
    assert(mrr >= 0.0 && mrr <= 1.0)
    // every hit contributes at least 1/10, at most 1
    assert(mrr >= nh / 10.0 / np - 1e-12 && mrr <= nh.toDouble / np + 1e-12)
  }

  test("imputation audit: masked mean moves toward the median") {
    q("q_impute_audit").collect().foreach { r =>
      val n = r.getAs[Long]("n")
      val miss = r.getAs[Long]("n_miss")
      assert(miss > 0 && miss < n)
      val med = r.getAs[Double]("median_bal")
      val mp = r.getAs[Double]("mean_present")
      val mi = r.getAs[Double]("mean_imputed")
      // imputed mean is the miss-weighted blend of present mean + median
      val want = (mp * (n - miss) + med * miss) / n
      assert(math.abs(mi - want) < 1e-6, s"blend: $mi vs $want")
      assert((mi >= math.min(mp, med) - 1e-9) &&
        (mi <= math.max(mp, med) + 1e-9))
    }
  }

  test("assortativity rho is bounded") {
    val rho = q("q_assortativity").collect().head.getAs[Double]("rho")
    assert(rho >= -1.0 - 1e-12 && rho <= 1.0 + 1e-12)
  }

  test("burn-rate alerts require both windows over budget") {
    val rows = q("q_burn_rate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val alert = r.getAs[Long]("alert")
      val (b1, b6) = (r.getAs[Double]("burn_1h"), r.getAs[Double]("burn_6h"))
      assert(alert == (if (b1 >= 2.0 && b6 >= 1.0) 1L else 0L))
      assert(b6 >= 0.0 && b1 >= 0.0)
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-15 ask #2/#3: unit/edge specs for the six queries that landed
  * after the round-14 plan-pin commit with only their DuckDB oracles
  * (q_order_aging, q_ship_lag, q_raking_ipf, q_dp_topk,
  * q_graph_bridges, q_revenue_waterfall), plus the q_hard_negatives
  * no-negative edge the r13 ADVICE fix (LEFT-JOIN oracle,
  * Learning.scala) closed but nothing exercised. Every fixture is a
  * tiny synthetic parquet dir driven through the REGISTERED query —
  * the same entry point Verify and the oracle use — so these pins hold
  * for exactly the code that ships.
  */
class Round15EdgeSpec extends SparkSuite {

  private def cleanupBucketed(dir: String, bucketed: (String, String)*)
      : Unit = {
    // Drop fixture-dir bucketed tables AND their scratch dirs so this
    // suite never pushes a long-lived dataset's bucketed copy out of
    // Scratch.pruneLocked's keep-3 MRU window (the catalog would still
    // point at the pruned files -> FAILED_READ_FILE in a later suite).
    bucketed.foreach { case (name, key) =>
      val t = operators.Advanced.bucketize(spark, dir, name, key)
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"${Scratch.root}/graft_bucketed/$t"))
    }
    cleanup(dir)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def ts(date: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"$date 00:00:00")

  // ---------------------------------------------------------------- //

  test("q_order_aging: all-finished corpus yields an EMPTY report, " +
    "and ages landing exactly on bucket boundaries (30/31/90/91/365/" +
    "366) fall in the documented buckets") {
    import spark.implicits._
    val dir = tmpDir("aging")
    // anchor comes from max(o_orderdate) over ALL orders (including
    // finished ones) — the F row below pins it at 1998-08-02
    val anchor = java.time.LocalDate.parse("1998-08-02")
    def back(days: Long) = ts(anchor.minusDays(days).toString)
    val allF = Seq(
      (1L, "F", 10.0, ts("1998-08-02"), "1-URGENT"),
      (2L, "F", 20.0, ts("1998-01-01"), "2-HIGH"))
    allF.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(SparkEntry.queries("q_order_aging")(spark, dir).count() == 0,
      "all-F corpus must produce zero report rows")

    val rows = allF ++ Seq(30L, 31L, 90L, 91L, 365L, 366L)
      .zipWithIndex.map { case (age, i) =>
        (10L + i, "O", 100.0, back(age), "1-URGENT") }
    rows.toDF("o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_order_aging")(spark, dir).collect()
    assert(r.length == 1, r.mkString(","))
    val row = r.head
    assert(row.getAs[Long]("n_open") == 6L)
    // boundary membership: 30 -> d0_30; 31 and 90 -> d31_90; 91 and
    // 365 -> d91_365; 366 -> d365_plus
    assert(row.getAs[Long]("d0_30") == 1L, row.toString)
    assert(row.getAs[Long]("d31_90") == 2L, row.toString)
    assert(row.getAs[Long]("d91_365") == 2L, row.toString)
    assert(row.getAs[Long]("d365_plus") == 1L, row.toString)
    assert(row.getAs[Double]("open_value") == 600.0)
    assert(row.getAs[Double]("stale_value") == 100.0)
    cleanup(dir)
  }

  test("q_ship_lag: integer threshold cuts sit exactly on the " +
    "cum*k >= n*q boundary, and a single-lag priority collapses all " +
    "three percentiles to that lag") {
    import spark.implicits._
    val dir = tmpDir("shiplag")
    val base = java.time.LocalDate.parse("1995-06-01")
    def day(off: Long) = ts(base.plusDays(off).toString)
    // priority 2-HIGH: ten orders, lags 0..9 (one line each) ->
    // cum(L) = L+1, so p50 = min L with 2(L+1) >= 10 -> 4;
    // p90: 10(L+1) >= 90 -> 8; p99: 100(L+1) >= 990 -> 9
    val spread = (0 until 10).map { i =>
      (100L + i, day(0), "2-HIGH", day(i.toLong)) }
    // priority 1-URGENT: three orders all lag 7 -> p50=p90=p99=7
    val flat = (0 until 3).map { i =>
      (200L + i, day(0), "1-URGENT", day(7)) }
    val rows = spread ++ flat
    rows.map { case (k, od, pr, _) => (k, od, pr) }
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    rows.map { case (k, _, _, sd) => (k, sd) }
      .toDF("l_orderkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_ship_lag")(spark, dir).collect()
      .map(x => x.getAs[String]("prio") ->
        ((x.getAs[Long]("n_lines"), x.getAs[Long]("p50_days"),
          x.getAs[Long]("p90_days"), x.getAs[Long]("p99_days"),
          x.getAs[Double]("avg_days")))).toMap
    assert(r("2-HIGH") == ((10L, 4L, 8L, 9L, 4.5)), r.toString)
    assert(r("1-URGENT") == ((3L, 7L, 7L, 7L, 7.0)), r.toString)
    cleanupBucketed(dir, "lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
  }

  test("q_raking_ipf: a sample-missed cell is excluded from the fit " +
    "and the margins are recomputed over COVERED cells — the final " +
    "column scaling lands the per-lang fitted mass on the covered " +
    "column margin") {
    import spark.implicits._
    val dir = tmpDir("raking")
    // classify ids by the query's own gate: first md5 nibble of the
    // decimal doc_id string <= 'b' means sampled
    val (sampled, unsampled) = (0L until 4000L)
      .partition(id => md5hex(id.toString).charAt(0) <= 'b')
    val sIt = sampled.iterator
    val uIt = unsampled.iterator
    def cell(src: String, lang: String, nS: Int, nU: Int) =
      (0 until nS).map(_ => (sIt.next(), src, lang)) ++
        (0 until nU).map(_ => (uIt.next(), src, lang))
    val docs = cell("s1", "l1", 4, 2) ++ cell("s1", "l2", 2, 3) ++
      cell("s2", "l1", 3, 1) ++ cell("s2", "l2", 0, 5) // missed cell
    docs.map { case (id, src, lg) =>
      (id, s"text $id", lg, src, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_raking_ipf")(spark, dir).collect()
    val cells = out.map(r => (r.getAs[String]("source"),
      r.getAs[String]("lang")) -> r).toMap
    assert(cells.size == 3 && !cells.contains(("s2", "l2")),
      s"missed cell must be excluded: ${cells.keys}")
    // covered column margins: l1 -> 6 + 4 = 10, l2 -> 5; the LAST IPF
    // step is a column scaling, so fitted mass matches these exactly
    // (up to the one decimal-quantized double ratio per lang)
    val byLang = out.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.map(_.getAs[Double]("fitted")).sum).toMap
    assert(math.abs(byLang("l1") - 10.0) < 1e-6, byLang.toString)
    assert(math.abs(byLang("l2") - 5.0) < 1e-6, byLang.toString)
    assert(out.forall(_.getAs[Double]("weight") > 0.0))
    cleanup(dir)
  }

  test("q_dp_topk: the tau=50 stability threshold cuts on the NOISY " +
    "count — noisy exactly 50 is released, 49 is suppressed") {
    import spark.implicits._
    val dir = tmpDir("dptopk")
    // reimplementation of the query's deterministic noise draw, used
    // only to pick two zero-noise tokens (h odd -> tz = 0) so the
    // fixture pins the filter boundary itself, not the noise ladder
    def noise(t: String): Long = {
      val key = java.lang.Long.parseLong(md5hex(t).substring(0, 4), 16)
      val h = Math.floorMod(key * 2654435761L, 2147483648L)
      if (h % 2 == 1) 0L else -1L // only zero-noise tokens are used
    }
    val zeroNoise = (0 until 500).map(i => s"w$i")
      .filter(t => noise(t) == 0L)
    assert(zeroNoise.size >= 2, "need two zero-noise tokens")
    val kept = zeroNoise(0) // 50 occurrences -> noisy = 50 (boundary)
    val dropped = zeroNoise(1) // 49 occurrences -> noisy = 49
    val docs = Seq(
      (1L, Array.fill(50)(kept).mkString(" ")),
      (2L, Array.fill(49)(dropped).mkString(" ")))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dp_topk")(spark, dir).collect()
    val counts = out.map(r =>
      r.getAs[String]("t") -> r.getAs[Long]("noisy_count")).toMap
    assert(counts == Map(kept -> 50L),
      s"expected only the boundary token, got $counts")
    cleanup(dir)
  }

  test("q_graph_bridges: a triangle-free co-purchase graph reports " +
    "bridge_share = 1.0 in every band (every edge is a local bridge)") {
    import spark.implicits._
    val dir = tmpDir("bridges")
    // C4 cycle 1-2-3-4-1 plus pendant 4-5: five edges, zero triangles
    val orders = Seq(
      (1L, Seq(1L, 2L)), (2L, Seq(2L, 3L)), (3L, Seq(3L, 4L)),
      (4L, Seq(4L, 1L)), (5L, Seq(4L, 5L)))
    orders.flatMap { case (ok, parts) => parts.map(p => (ok, p)) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q_graph_bridges")(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_edges")).sum == 5L, out.mkString(","))
    assert(out.map(_.getAs[Long]("n_bridges")).sum == 5L)
    assert(out.forall(_.getAs[Double]("bridge_share") == 1.0),
      out.mkString(","))
    cleanupBucketed(dir, "lineitem" -> "l_orderkey")
  }

  test("q_revenue_waterfall: narrow-decimal recast keeps every " +
    "product exact — including max-magnitude (12,2) x (4,2) operands " +
    "— and matches an independent BigDecimal recompute") {
    import spark.implicits._
    val dir = tmpDir("waterfall")
    // all values exactly representable as doubles with <= 2 decimals
    // so the (12,2)/(4,2) casts are identities, and the max-magnitude
    // row exercises the full (12,2) x (4,2) x (4,2) -> (22,6) chain
    // far below the precision-38 cap
    val lines = Seq( // (orderkey, price, discount, tax)
      (1L, 9999999999.75, 0.75, 0.25),
      (1L, 1234.25, 0.25, 0.50),
      (2L, 0.25, 0.00, 0.00),
      (3L, 500000.50, 0.50, 0.75))
    val orders = Seq((1L, 10L), (2L, 20L), (3L, 10L))
    val custs = Seq((10L, "BUILDING"), (20L, "MACHINERY"))
    orders.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    custs.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    lines.toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val segOf = orders.toMap.map { case (ok, ck) =>
      ok -> custs.toMap.apply(ck) }
    // independent recompute in exact BigDecimal arithmetic
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    val want = lines.groupBy(l => segOf(l._1)).map { case (seg, ls) =>
      val one = BigDecimal(1).setScale(2)
      def bd(x: Double, s: Int) = BigDecimal(x).setScale(s, HALF_UP)
      val gross = ls.map(l => bd(l._2, 2)).sum
      val disc = ls.map(l => bd(l._2, 2) * bd(l._3, 2)).sum
      val net = ls.map(l => bd(l._2, 2) * (one - bd(l._3, 2))).sum
      val tax = ls.map(l =>
        (bd(l._2, 2) * (one - bd(l._3, 2))) * bd(l._4, 2)).sum
      seg -> ((ls.size.toLong, gross.toDouble, disc.toDouble,
        net.toDouble, tax.toDouble, (net + tax).toDouble))
    }
    val got = SparkEntry.queries("q_revenue_waterfall")(spark, dir)
      .collect().map(r => r.getAs[String]("segment") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Double]("gross"),
          r.getAs[Double]("discount_amt"), r.getAs[Double]("net"),
          r.getAs[Double]("tax_amt"), r.getAs[Double]("billed"))))
      .toMap
    assert(got == want, s"got $got\nwant $want")
    cleanupBucketed(dir, "lineitem" -> "l_orderkey")
  }

  test("q_hard_negatives: a probe whose candidates ALL share its " +
    "label emits the NULL-margin row (r13 ADVICE edge, now exercised)") {
    import spark.implicits._
    val dir = tmpDir("hardneg")
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => ((seed * 31 + i * 7) % 10 + 1) / 10.0f)
    // candidates are GLOBAL (every vec except the probe itself), so
    // the only way a probe has no wrong-label candidate is a
    // single-label corpus — both probes (vec_id < 10) hit the edge;
    // the mixed-label normal path is pinned by the sf0.01 oracle run
    val rows = Seq(
      (0L, vec(1), 1), (1L, vec(2), 1),
      (100L, vec(3), 1), (101L, vec(4), 1), (102L, vec(5), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_hard_negatives")(spark, dir)
      .collect().map(r => r.getAs[Long]("probe_id") -> r).toMap
    assert(out.keySet == Set(0L, 1L),
      s"no-negative probe rows must be KEPT: ${out.keySet}")
    for (p <- Seq(out(0L), out(1L))) {
      assert(p.isNullAt(p.fieldIndex("neg_cos")) &&
        p.isNullAt(p.fieldIndex("neg_id")) &&
        p.isNullAt(p.fieldIndex("margin")),
        s"no-negative probe must carry NULL negative fields: $p")
      assert(!p.isNullAt(p.fieldIndex("pos_cos")), p.toString)
    }
    cleanup(dir)
  }
}

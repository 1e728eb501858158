package graft

/** Semantic invariants for the round-8 Validation block (expectation
  * audit, quarantine, histograms, freshness, Zipf fit, curation funnel)
  * plus the ANN recall eval, at sf0.001.
  */
class ValidationSpec extends SparkSuite {

  test("expectation audit: rates are consistent and statuses agree") {
    val rows = q("q_expect_audit").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0))
      .toSeq.sorted)
    val n = rows.map(_.getLong(1)).distinct
    assert(n.length == 1 && n.head > 0, "all rules check the same table")
    rows.foreach { r =>
      val (checked, failed, rate, status) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))
      assert(failed >= 0 && failed <= checked)
      assert(math.abs(rate - failed.toDouble / checked) == 0.0)
      assert(status == (if (failed == 0) "pass" else "fail"))
    }
  }

  test("quarantine rows each trip at least one declared rule") {
    import org.apache.spark.sql.functions._
    val rows = q("q_dq_quarantine").collect()
    assert(rows.nonEmpty, "synthetic corpus must contain rejects")
    rows.foreach { r =>
      val reasons = r.getString(4).split(",").toSet
      val expect = Set(
        if (r.getLong(3) < 20) Some("too_short") else None,
        if (r.getLong(2) > 500) Some("over_long") else None,
        if (r.getString(1) == "zh") Some("unsupported_lang") else None)
        .flatten
      assert(reasons == expect, s"doc ${r.getLong(0)}")
    }
    // complement check: nothing reject-worthy escaped
    val total = Tables.table(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) < 20 ||
        col("n_chars") > 500 || col("lang") === "zh")
      .count()
    assert(rows.length.toLong == total)
  }

  test("histograms: bins partition each source's rows exactly") {
    val docs = Tables.table(spark, sf, "documents")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rows = q("q_histogram_equiwidth").collect()
    val perSource = rows.groupBy(_.getString(0))
    docs.groupBy(_._1).foreach { case (src, xs) =>
      val bins = perSource(src)
      assert(bins.map(_.getLong(4)).sum == xs.length,
        s"$src: bin counts must sum to row count")
      val lo = xs.map(_._2).min; val hi = xs.map(_._2).max
      // every value lands in the bin whose [bin_lo, bin_hi] covers it
      xs.foreach { case (_, v) =>
        val b = ((v - lo) * 16) / (hi - lo + 1)
        val row = bins.find(_.getLong(1) == b).get
        assert(v >= row.getLong(2) && v <= row.getLong(3),
          s"$src: $v outside bin $b [${row.getLong(2)},${row.getLong(3)}]")
      }
      assert(bins.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 16))
    }
  }

  test("freshness: the freshest type has zero lag; counts bound 24h") {
    val rows = q("q_freshness_lag").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(3) == 0L),
      "some type holds the global max")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= r.getLong(1))
    }
  }

  test("zipf: slope is negative and intercept reproduces the fit") {
    val r = q("q_zipf_slope").collect().head
    val (n, slope, icept) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(n > 0 && n <= 100)
    // frequency is non-increasing in rank, so the log-log slope is <= 0
    assert(slope <= 0.0, s"slope $slope")
    // the fitted line passes through the mean point (x̄, ȳ) by
    // construction — recheck against an independent derivation
    import org.apache.spark.sql.functions._
    val xy = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t").asc).limit(100)
      .collect().map(_.getLong(1))
      .zipWithIndex
      .map { case (f, i) =>
        def lg(v: Long) = 63 - java.lang.Long.numberOfLeadingZeros(v)
        (lg(i + 1L).toDouble, lg(f).toDouble)
      }
    val mx = xy.map(_._1).sum / xy.length
    val my = xy.map(_._2).sum / xy.length
    assert(math.abs((slope * mx + icept) - my) < 1e-9)
  }

  test("funnel: monotone non-increasing, removed reconciles, pct exact") {
    val rows = q("q_corpus_pipeline").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    rows.sliding(2).foreach {
      case Array(prev, cur) =>
        assert(cur.getLong(3) == prev.getLong(2) - cur.getLong(2))
      case _ =>
    }
    assert(rows.head.getLong(3) == 0L)
    rows.foreach { r =>
      assert(r.getDouble(4) ==
        r.getLong(2).toDouble / counts.head.toDouble)
    }
    // stage 4 must equal the standalone exact-dedup operator's count
    // over the same gated input (composition certification)
    import org.apache.spark.sql.functions._
    val gated = Tables.table(spark, sf, "documents")
      .filter(length(trim(col("text"))) > 0)
      .filter(size(split(col("text"), " ")).between(20, 10000) &&
        col("n_chars") <= 20000)
      .select("text").distinct().count()
    assert(rows(3).getLong(2) == gated)
  }

  test("split leakage reconciles with the near-dup pair relation") {
    val pairs = SparkEntry.queries("q_dedup_ngram")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val nib = f"${md(0)}%02x".charAt(0)
      if (nib <= 'b') "train" else if (nib <= 'd') "val" else "test"
    }
    val want = pairs.map { case (a, b) =>
      val (sa, sb) = (split(a), split(b))
      (Seq(sa, sb).min, Seq(sa, sb).max)
    }.filter { case (a, b) => a != b }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = q("q_split_leakage").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("shard shuffle: shards partition the corpus; audit is bounded") {
    val rows = q("q_shard_shuffle").collect()
    val n = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == n,
      "shards must partition the corpus")
    assert(rows.map(_.getString(0)).forall(s =>
      s.length == 1 && "0123456789abcdef".contains(s)))
    rows.foreach { r =>
      assert(r.getString(3) <= r.getString(4), "first_key <= last_key")
      assert(r.getLong(5) < r.getLong(1),
        "adjacent same-source pairs bounded by n-1")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("nb trainer: probabilities are smoothed exact ratios") {
    val rows = q("q_nb_train").collect()
    assert(rows.length == 25, "5 langs x 5 marker tokens")
    val priors = rows.map(r => (r.getString(0), r.getDouble(4))).distinct
    assert(math.abs(priors.map(_._2).sum - 1.0) < 1e-12,
      "class priors sum to 1")
    rows.foreach { r =>
      val (df, nd, p) = (r.getLong(2), r.getLong(3), r.getDouble(5))
      assert(df >= 0 && df <= nd)
      assert(p == (df + 1).toDouble / (nd + 2), "exact add-one ratio")
      assert(p > 0.0 && p < 1.0, "smoothing keeps p off the boundary")
    }
  }

  test("streaming DQ counters equal the batch conditional aggregate") {
    import org.apache.spark.sql.functions._
    val batch = Tables.table(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") > 400, 1L).otherwise(0L)).as("f_range"),
        sum(when(col("value") <= 0, 1L).otherwise(0L)).as("f_nonpos"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val streamed = q("q_streaming_expect").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch)
  }

  test("ann recall: exact side is complete; overlap bounded by both") {
    val rows = q("q_ann_recall").collect()
    assert(rows.map(_.getLong(0)).toSeq == (10L until 20L))
    rows.foreach { r =>
      assert(r.getLong(1) == 10L, "exact ground truth is always top-10")
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)))
      assert(r.getDouble(4) == r.getLong(3).toDouble / 10.0)
    }
    // IVF top-10 with nprobe=1 can never beat exact: every IVF hit in
    // the exact top-10 is counted, so recall <= 1
    assert(rows.forall(_.getDouble(4) <= 1.0))
  }
}

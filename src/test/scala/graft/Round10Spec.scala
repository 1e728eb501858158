package graft

/** Property pins for the round-10 operators: each new query's defining
  * invariant is cross-checked against an independent derivation (the
  * house discipline — the DuckDB oracle proves engine parity, these
  * prove the SEMANTICS).
  */
class Round10Spec extends SparkSuite {

  test("session gap sweep: session counts fall monotonically as the " +
    "gap threshold grows, and never below the user count") {
    val rows = q("q_session_gap_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(30L, 60L, 120L))
    val sess = rows.map(_._2)
    assert(sess(0) >= sess(1) && sess(1) >= sess(2),
      s"sessions must shrink with the threshold: ${sess.toSeq}")
    val nEvents = rows.head._3
    assert(sess.forall(s => s >= 1 && s <= nEvents))
    // lower bound: at least one session per active user
    import org.apache.spark.sql.functions.countDistinct
    val nUsers = Tables.table(spark, sf, "events")
      .agg(countDistinct("user_id")).head().getLong(0)
    assert(sess.forall(_ >= nUsers))
  }

  test("jaccard histogram: bins tile [0.5, 1], per-bin extrema stay " +
    "inside their bin, and the mass adds up to the pair count") {
    val rows = q("q_jaccard_hist").collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val nPairs = q("q_dedup_ngram").count()
    assert(total == nPairs, s"histogram mass $total != pairs $nPairs")
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 10 && bin <= 20, s"bin $bin outside [10,20]")
      val lo = bin / 20.0
      val mn = r.getAs[Double]("jac_min"); val mx = r.getAs[Double]("jac_max")
      assert(mn >= lo && mx < lo + 0.05 + 1e-12 && mn <= mx)
    }
  }

  test("host census: synthetic hosts all appear, URL counts dominate " +
    "doc counts, and doc counts sum over hosts to >= the corpus") {
    val rows = q("q_host_stats").collect()
    val hosts = rows.map(_.getAs[String]("host")).toSet
    assert((0 until 7).forall(i => hosts.contains(s"ex$i.org")), hosts)
    assert((0 until 3).forall(i => hosts.contains(s"w$i.net")), hosts)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_urls") >= r.getAs[Long]("n_docs"))
      assert(r.getAs[Double]("avg_chars") > 0)
    }
  }

  test("prefix census: group sizes times group counts recover the " +
    "corpus exactly") {
    val rows = q("q_prefix_dups").collect()
    val docs = rows.map(r =>
      r.getAs[Long]("grp_size") * r.getAs[Long]("n_groups")).sum
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(docs == nDocs, s"histogram covers $docs of $nDocs docs")
    rows.foreach(r => assert(r.getAs[Long]("n_docs") ==
      r.getAs[Long]("grp_size") * r.getAs[Long]("n_groups")))
  }

  test("tokenizer fertility: every language has positive counts and " +
    "subwords at least match non-empty whitespace words") {
    val rows = q("q_tok_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") > 0)
      assert(r.getAs[Double]("fertility") > 0)
      assert(r.getAs[Double]("chars_per_subword") >= 1.0,
        "every regex token carries at least one char")
    }
  }

  test("binseg change point: the reported split maximizes the " +
    "between-segment SS against a driver-side brute force") {
    import org.apache.spark.sql.functions._
    val daily = Tables.table(spark, sf, "events")
      .groupBy(datediff(col("ts").cast("date"),
        lit("2024-01-01").cast("date")).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = daily.length
    val sx = daily.map(_._2).sum
    var best = (Double.MinValue, Long.MaxValue)
    var cx = 0L
    for (i <- 1 until n) {
      cx += daily(i - 1)._2
      val gain = cx.toDouble * cx / i + (sx - cx).toDouble * (sx - cx) / (n - i)
      if (gain > best._1) best = (gain, daily(i - 1)._1)
    }
    val row = q("q_binseg_change").head()
    assert(row.getAs[Long]("split_day") == best._2,
      s"split ${row.getAs[Long]("split_day")} != brute-force ${best._2}")
    assert(math.abs(row.getAs[Double]("gain") - best._1) <=
      1e-9 * math.abs(best._1))
  }

  test("croston: ten eligible parts, positive smoothed gaps, and the " +
    "forecast equals size-over-gap") {
    val rows = q("q_croston").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_days") >= 9)
      val sq = r.getAs[Double]("smoothed_qty")
      val sg = r.getAs[Double]("smoothed_gap_days")
      val f = r.getAs[Double]("qty_per_day")
      assert(sq > 0 && sg > 0)
      assert(math.abs(f - sq / sg) <= 1e-9 * math.abs(f),
        s"forecast $f != $sq/$sg")
    }
  }

  test("ivf nprobe curve: recall rises monotonically with probed " +
    "cells and candidate tops stay within k per probe") {
    val rows = q("q_ivf_nprobe_curve").collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_ivf"),
        r.getAs[Double]("recall_at_10")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(rows(0)._3 <= rows(1)._3 + 1e-12 &&
      rows(1)._3 <= rows(2)._3 + 1e-12,
      s"recall must not fall with nprobe: ${rows.map(_._3).toSeq}")
    rows.foreach { case (_, nIvf, rec) =>
      assert(nIvf <= 100, "at most 10 candidates per probe")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("dedup cascade: stage outputs chain exactly and never grow") {
    val rows = q("q_dedup_cascade").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_in"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_out")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("1_exact", "2_prefix", "3_neardup"))
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(rows.head._2 == nDocs)
    rows.foreach { case (_, in, rm, out) =>
      assert(out == in - rm && rm >= 0 && out >= 0)
    }
    assert(rows(0)._4 == rows(1)._2 && rows(1)._4 == rows(2)._2,
      "each stage's output is the next stage's input")
  }

  test("churn hazard: at-risk counts shrink with tenure and hazards " +
    "stay within [0, 1]") {
    val rows = q("q_churn_hazard").collect()
      .map(r => (r.getAs[Long]("tenure_weeks"), r.getAs[Long]("at_risk"),
        r.getAs[Long]("churned"), r.getAs[Double]("hazard")))
      .sortBy(_._1)
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 >= b._2, "at_risk must not grow")
      case _ =>
    }
    rows.foreach { case (_, ar, ch, hz) =>
      assert(ch <= ar && hz >= 0.0 && hz <= 1.0)
    }
  }

  test("language-mix entropy: shares and bands are sane and the " +
    "source census covers the corpus") {
    val rows = q("q_lang_mix_entropy").collect()
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_langs") >= 1)
      assert(r.getAs[Long]("h_band") >= 0)
      val ds = r.getAs[Double]("dom_share")
      assert(ds > 0.0 && ds <= 1.0)
    }
  }

  test("cross-language dups: ordered lang pairs, jac within the " +
    "near-dup band, pair count bounded by the truth relation") {
    val rows = q("q_cross_lang_dups").collect()
    assert(rows.nonEmpty)
    val nTruth = q("q_dedup_ngram").count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum <= nTruth)
    rows.foreach { r =>
      assert(r.getAs[String]("lang_lo") < r.getAs[String]("lang_hi"))
      val j = r.getAs[Double]("jac_max")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("streamed OHLC equals the batch candles bit-for-bit") {
    val b = q("q_ohlc_hourly").collect().map(_.toString).toSeq
    val s2 = q("q_streaming_ohlc").collect().map(_.toString).toSeq
    assert(s2 == b, s"streamed OHLC diverges (${s2.size} vs ${b.size})")
  }

  test("cume_dist/percent_rank: per-customer distributions bounded " +
    "and the group maximum order scores percent_rank 0") {
    val rows = q("q_win_cumedist").collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Double]("o_totalprice"),
        r.getAs[Double]("pr"), r.getAs[Double]("cd")))
    rows.foreach { case (_, _, pr, cd) =>
      assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
      assert(pr <= cd + 1e-12, "percent_rank never exceeds cume_dist")
    }
    rows.groupBy(_._1).foreach { case (ck, rs) =>
      val top = rs.maxBy(_._2)
      assert(rs.filter(_._2 == top._2).exists(_._3 == 0.0),
        s"customer $ck: the largest order must score pr = 0")
      assert(math.abs(rs.map(_._4).max - 1.0) < 1e-12,
        s"customer $ck: cume_dist must reach 1")
    }
  }

  test("hourly OHLC: high dominates open/close/low and counts are " +
    "positive") {
    val rows = q("q_ohlc_hourly").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getAs[Double]("open"); val h = r.getAs[Double]("high")
      val l = r.getAs[Double]("low"); val c = r.getAs[Double]("close")
      assert(h >= o && h >= c && h >= l)
      assert(l <= o && l <= c)
      assert(r.getAs[Long]("n_events") >= 1)
    }
  }

  test("ndv correlation: pair NDV bounded by the independence model " +
    "and by the row count, error ratio at least 1") {
    val rows = q("q_ndv_correlation").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val pair = r.getAs[Long]("ndv_pair")
      assert(pair <= r.getAs[Long]("indep_est"))
      assert(pair <= r.getAs[Long]("n_rows"))
      assert(pair >= math.max(r.getAs[Long]("ndv_a"), r.getAs[Long]("ndv_b")))
      assert(r.getAs[Double]("err_ratio") >= 1.0 - 1e-12)
    }
  }

  test("rolling 7-day actives: WAU7 dominates DAU, every day's WAU7 " +
    "is at least the max single-day DAU inside its window") {
    val rows = q("q_rolling_dau7").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau7"), r.getAs[Double]("stickiness7")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val dauByDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (day, dau, wau, st) =>
      assert(wau >= dau, s"day $day wau $wau < dau $dau")
      val windowMax = (day - 6 to day).flatMap(dauByDay.get)
      if (windowMax.nonEmpty) assert(wau >= windowMax.max)
      assert(st > 0.0 && st <= 1.0)
    }
  }

  test("code detect: flags and symbol shares bounded, census covers " +
    "the corpus") {
    val rows = q("q_code_detect").collect()
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_code") <= r.getAs[Long]("n_docs"))
      val sr = r.getAs[Double]("sym_ratio")
      assert(sr >= 0.0 && sr < 1.0)
    }
  }

  test("blocking eval: metrics bounded, candidate hits bounded by " +
    "both sides") {
    val r = q("q_blocking_eval").head()
    val nCand = r.getAs[Long]("n_cand"); val nTruth = r.getAs[Long]("n_truth")
    val nHit = r.getAs[Long]("n_hit")
    assert(nHit <= nCand && nHit <= nTruth)
    val pc = r.getAs[Double]("pairs_completeness")
    val rr = r.getAs[Double]("reduction_ratio")
    assert(pc >= 0.0 && pc <= 1.0)
    assert(rr > 0.9, s"a blocker that prunes <90% is no blocker: $rr")
  }

  test("multimodal mix: per-source byte shares sum to one and items " +
    "cover the corpus") {
    val rows = q("q_multimodal_mix").collect()
    val nDocs = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_items")).sum == nDocs)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val share = rs.map(_.getAs[Double]("byte_share")).sum
      assert(math.abs(share - 1.0) < 1e-9, s"$src shares sum to $share")
    }
  }

  test("maxsim late interaction: five ranked rows per probe, scores " +
    "bounded by the aspect count and descending within probe") {
    val rows = q("q_maxsim_late").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rn"),
        r.getAs[Double]("maxsim")))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.size == 10)
    byProbe.foreach { case (p, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L).toSeq, s"probe $p ranks")
      assert(sorted.map(_._3).toSeq ==
        sorted.map(_._3).toSeq.sorted(Ordering[Double].reverse),
        s"probe $p scores must descend")
      rs.foreach { case (_, _, ms) => assert(ms >= -4.0 && ms <= 4.0) }
    }
  }

  test("mmr diversify: five distinct picks, the first is the top-1 " +
    "by relevance, and marginal scores never increase") {
    val rows = q("q_mmr_diversify").collect()
      .map(r => (r.getAs[Long]("pick_rank"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("rel"), r.getAs[Double]("mmr")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 5L).toSeq)
    assert(rows.map(_._2).distinct.length == 5, "picks must be distinct")
    assert(rows.head._3 == rows.map(_._3).max,
      "first pick is the relevance top-1")
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(b._4 <= a._4 + 1e-12,
        "a later pick faces a larger penalty set")
      case _ =>
    }
  }

  test("streamed binseg and gap sweep equal their batch twins " +
    "bit-for-bit") {
    val bb = q("q_binseg_change").collect().map(_.toString).toSeq
    val sb = q("q_streaming_binseg").collect().map(_.toString).toSeq
    assert(sb == bb, s"streamed binseg diverges: $sb vs $bb")
    val bg = q("q_session_gap_sweep").collect().map(_.toString).toSeq
    val sg = q("q_streaming_gapsweep").collect().map(_.toString).toSeq
    assert(sg == bg, s"streamed gap sweep diverges: $sg vs $bg")
  }

  test("bloom sizing curve: observed FPR falls as the bit budget " +
    "grows, and set bits never exceed insertions or capacity") {
    val rows = q("q_bloom_fpr_curve").collect()
      .map(r => (r.getAs[Long]("m_bits"), r.getAs[Long]("bits_set"),
        r.getAs[Long]("n_false_pos"), r.getAs[Double]("fpr")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1024L, 4096L, 16384L))
    assert(rows(0)._4 >= rows(1)._4 && rows(1)._4 >= rows(2)._4,
      s"fpr must fall with m: ${rows.map(_._4).toSeq}")
    val nBuild = Tables.table(spark, sf, "supplier")
      .filter(org.apache.spark.sql.functions.col("s_suppkey") % 2 === 0)
      .count()
    rows.foreach { case (m, bits, fp, fpr) =>
      assert(bits <= math.min(m, 3 * nBuild))
      assert(fp >= 0 && fpr >= 0.0 && fpr <= 1.0)
    }
  }

  test("BH step-up: rejections form a prefix of the p-value ranking " +
    "and every rejected p clears its own step bound") {
    val rows = q("q_fdr_bh").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Double]("p"),
        r.getAs[Double]("chi2"), r.getAs[Boolean]("rejected")))
      .sortBy(_._1)
    val m = rows.length
    assert(rows.map(_._1).toSeq == (1L to m.toLong).toSeq)
    // p sorted ascending with the rank
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._2)
      case _ =>
    }
    rows.foreach { case (_, _, chi2, _) => assert(chi2 >= 0.0) }
    // prefix property: once a rank is not rejected, none after it is
    val firstKeep = rows.indexWhere(!_._4)
    if (firstKeep >= 0)
      assert(rows.drop(firstKeep).forall(!_._4), "rejection not a prefix")
    // the k* rank itself satisfies p*m <= q*k
    val kstar = rows.count(_._4)
    if (kstar > 0) {
      val pk = rows(kstar - 1)._2
      assert(pk * m <= 0.25 * kstar + 1e-12)
    }
  }

  test("SPRT gate: the micro-nat LLR recomputes from the cumulative " +
    "counts and the decision day is the first threshold crossing") {
    val rows = q("q_sprt_gate").collect()
      .map(r => (r.getAs[Long]("arm"), r.getAs[Long]("day"),
        r.getAs[Long]("cum_n"), r.getAs[Long]("cum_s"),
        r.getAs[Long]("llr_micro"), r.getAs[String]("state"),
        Option(r.getAs[java.lang.Long]("first_decision_day"))
          .map(_.toLong)))
    rows.foreach { case (_, _, n, sc, llr, st, _) =>
      assert(llr == sc * 200671L - (n - sc) * 50010L)
      val want = if (llr >= 2944439L) "accept_h1"
        else if (llr <= -2944439L) "accept_h0" else "continue"
      assert(st == want)
    }
    rows.groupBy(_._1).foreach { case (_, g) =>
      // causal decision: null before the first crossing, the crossing
      // day from then on
      val crossings = g.filter(_._6 != "continue").map(_._2)
      val first = if (crossings.isEmpty) None else Some(crossings.min)
      g.foreach { r =>
        val want = first.filter(_ <= r._2)
        assert(r._7 == want, s"day ${r._2}: ${r._7} vs $want")
      }
      // cumulative counts are monotone in day
      val sorted = g.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 >= a._3 && b._4 >= a._4)
        case _ =>
      }
    }
  }

  test("Shapley attribution: total credit equals the credited-user " +
    "count and sixths are conserved") {
    import org.apache.spark.sql.functions._
    val rows = q("q_shapley_attrib").collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("n_sets"),
        r.getAs[Long]("users_exposed"), r.getAs[Long]("credit_sixths"),
        r.getAs[Double]("credit")))
    rows.foreach { case (_, _, _, six, cr) =>
      assert(math.abs(cr - six / 6.0) < 1e-12)
    }
    // independent recount of users with a non-empty pre-purchase set
    val ev = Tables.table(spark, sf, "events")
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("fp"))
    val credited = ev
      .filter(col("event_type").isin("view", "click", "signup"))
      .join(fp, "user_id").filter(col("ts") < col("fp"))
      .select("user_id").distinct().count()
    assert(rows.map(_._4).sum == 6L * credited,
      s"sixths ${rows.map(_._4).sum} != 6*$credited")
  }

  test("survivorship: field picks come from cluster members and the " +
    "longest-member invariant holds") {
    import org.apache.spark.sql.functions._
    val surv = q("q_survivorship").collect()
    assert(surv.forall(_.getAs[Long]("n_members") >= 2))
    val members = q("q_dedup_cluster")
      .join(Tables.table(spark, sf, "documents"), "doc_id")
      .groupBy("cluster_id")
      .agg(collect_set("source").as("srcs"), collect_set("lang").as("lgs"),
        max("n_chars").as("maxc"), sum("n_chars").as("sumc"),
        min("doc_id").as("minid"))
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Seq[String]]("srcs").toSet,
          r.getAs[Seq[String]]("lgs").toSet,
          r.getAs[Long]("maxc"), r.getAs[Long]("sumc"),
          r.getAs[Long]("minid"))).toMap
    surv.foreach { r =>
      val (srcs, lgs, maxc, sumc, minid) =
        members(r.getAs[Long]("cluster_id"))
      assert(srcs.contains(r.getAs[String]("survivor_source")))
      assert(lgs.contains(r.getAs[String]("survivor_lang")))
      assert(r.getAs[Long]("longest_chars") == maxc)
      assert(r.getAs[Long]("total_chars") == sumc)
      assert(r.getAs[Long]("survivor_id") == minid)
    }
  }

  test("KMV sketch: short-of-k groups report the exact NDV and full " +
    "groups stay inside a generous k=64 error envelope") {
    val rows = q("q_kmv_distinct").collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("ndv_exact"), r.getAs[Long]("m"),
        r.getAs[Long]("est_ndv")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, exact, m, est) =>
      assert(m == math.min(64L, exact))
      if (m < 64) assert(est == exact, s"short group must be exact")
      else assert(est > 0 && math.abs(est - exact) <= exact / 2 + 1,
        s"KMV estimate $est vs exact $exact outside 50%")
    }
  }

  test("streamed SPRT equals the batch gate bit-for-bit") {
    val b = q("q_sprt_gate").collect().map(_.toString).toSeq
    val st = q("q_streaming_sprt").collect().map(_.toString).toSeq
    assert(st == b, s"streamed SPRT diverges:\n$st\nvs\n$b")
  }

  test("delta method: the quadratic form is nonnegative, se^2 = var, " +
    "and the ratio matches the recomputed sums") {
    import org.apache.spark.sql.functions._
    val rows = q("q_delta_method").collect()
    assert(rows.length == 2)
    val check = Tables.table(spark, sf, "events")
      .groupBy((col("user_id") % 2).as("arm"))
      .agg(sum((col("event_type") === "click").cast("long")).as("c"),
        sum((col("event_type") === "view").cast("long")).as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.foreach { r =>
      val varD = r.getAs[Double]("var_delta")
      val se = r.getAs[Double]("se")
      assert(varD >= 0.0 && math.abs(se * se - varD) < 1e-15)
      val (c, v) = check(r.getAs[Long]("arm"))
      assert(r.getAs[Long]("sum_clicks") == c)
      assert(r.getAs[Long]("sum_views") == v)
      assert(math.abs(r.getAs[Double]("ratio") - c.toDouble / v) < 1e-12)
    }
  }

  test("windowed funnel never promotes a user past the unbounded " +
    "funnel's stage") {
    val unb = q("q_funnel").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("stage")).toMap
    val win = q("q_funnel_windowed").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("stage")).toMap
    assert(win.keySet == unb.keySet, "stage-1 population must match")
    win.foreach { case (u, s) =>
      assert(s <= unb(u), s"user $u windowed stage $s > unbounded ${unb(u)}")
    }
  }

  test("ERR@10: terms recompute from the graded relevances and the " +
    "cumulative metric is a nondecreasing value in [0, 1]") {
    val rows = q("q_err_rank").collect()
      .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("rel"),
        r.getAs[Long]("prod_before"), r.getAs[Long]("term_scaled"),
        r.getAs[Double]("err_cum"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to rows.length.toLong))
    var prod = 1L
    var cumTerm = 0L
    rows.foreach { case (rk, rel, pb, term, cum) =>
      assert(pb == prod, s"rank $rk survival product")
      val want = rel * prod * (1L << (2 * (10 - rk.toInt))) * (2520 / rk)
      assert(term == want, s"rank $rk term $term != $want")
      cumTerm += term
      assert(math.abs(cum - cumTerm.toDouble / 2642411520.0) < 1e-15)
      assert(cum >= 0.0 && cum <= 1.0 + 1e-12)
      prod *= (4L - rel)
    }
  }

  test("SRP signature recomputes in plain Scala for every vector") {
    import org.apache.spark.sql.functions._
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs = (0 until 16).map(p => (0 until 64).map { j =>
      if ((md.digest(s"$p:$j".getBytes("UTF-8"))(0) & 1) == 0) 1L else -1L
    })
    val emb = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = q("q_embed_srp").collect()
    assert(rows.length == emb.size)
    rows.foreach { r =>
      val sig = r.getAs[Long]("srp_sig")
      assert(sig >= 0L && sig <= 65535L)
      val v = emb(r.getAs[Long]("vec_id"))
        .map(x => math.floor(x.toDouble * 1048576.0).toLong)
      val ma = v.map(math.abs).max
      val q8 = v.map(x =>
        if (ma > 0) math.floor((x * 127).toDouble / ma.toDouble).toLong
        else 0L)
      val want = (0 until 16).map { p =>
        val dot = q8.iterator.zip(signs(p).iterator).map {
          case (a, b) => a * b
        }.sum
        if (dot >= 0) 1L << p else 0L
      }.sum
      assert(sig == want, s"vec ${r.getAs[Long]("vec_id")}: $sig != $want")
    }
  }

  test("Simpson detector: stratum counts tile the orders table and " +
    "the flip flag restates the sign comparison") {
    val rows = q("q_simpson_flip").collect()
    val total = rows.map(r =>
      r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum
    assert(total == Tables.table(spark, sf, "orders").count())
    rows.foreach { r =>
      val d = r.getAs[Double]("diff")
      val pd = r.getAs[Double]("pooled_diff")
      assert(r.getAs[Boolean]("flipped") ==
        ((d > 0 && pd < 0) || (d < 0 && pd > 0)))
    }
  }

  test("SRP pairs: the blocked join equals the brute-force Hamming " +
    "scan over the census signatures") {
    val sigs = q("q_embed_srp").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("srp_sig")))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 2
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    val got = q("q_srp_pairs").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("hamming"))).toSet
    assert(got == brute,
      s"missing: ${brute.diff(got).take(5)}; extra: ${got.diff(brute).take(5)}")
  }

  test("Louvain step: gains restate 2m - ki*kj and the chosen " +
    "neighbor has the minimum degree among neighbors") {
    import org.apache.spark.sql.functions._
    val rows = q("q_louvain_step").collect()
    val m = q("q_dedup_ngram").count()
    val deg = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("degree")).toMap
    rows.foreach { r =>
      val ki = r.getAs[Long]("degree")
      val kj = r.getAs[Long]("nbr_degree")
      assert(r.getAs[Long]("gain_num") == 2 * m - ki * kj)
      assert(r.getAs[Boolean]("moved") == (2 * m > ki * kj))
      assert(deg(r.getAs[Long]("best_nbr")) == kj,
        "published neighbor degree must match the census")
      val expect = if (r.getAs[Boolean]("moved"))
        r.getAs[Long]("best_nbr") else r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("new_comm") == expect)
    }
  }

  test("SCD2 apply equals the full rebuild bit-for-bit") {
    val rebuild = q("q_scd2_intervals").collect().map(_.toString).toSeq
    val applied = q("q_scd2_apply").collect().map(_.toString).toSeq
    assert(applied == rebuild)
  }

  test("salt plan: factors shard every hot key under the 64-row " +
    "target and cold keys are absent") {
    import org.apache.spark.sql.functions._
    val rows = q("q_salt_plan").collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_rows"); val f = r.getAs[Long]("salt_factor")
      val mx = r.getAs[Long]("max_shard_rows")
      assert(n > 64 && f == (n + 63) / 64 && mx == (n + f - 1) / f)
      assert(mx <= 64, s"shard $mx exceeds the target")
    }
    val hot = Tables.table(spark, sf, "events")
      .groupBy("user_id").count().filter(col("count") > 64).count()
    assert(rows.length == hot)
  }

  test("post-stratification: weights sum to 1 and contributions " +
    "restate w_h * sample_mean") {
    val rows = q("q_post_stratify").collect()
    val wsum = rows.map(_.getAs[Double]("w_h")).sum
    assert(math.abs(wsum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("contrib") -
        r.getAs[Double]("w_h") * r.getAs[Double]("sample_mean")) < 1e-12)
      assert(math.abs(r.getAs[Double]("sample_bias") -
        (r.getAs[Double]("sample_mean") - r.getAs[Double]("true_mean")))
        < 1e-12)
    }
  }

  test("MDE grid: shrinking enrollment can only raise the detectable " +
    "effect, and the relative MDE restates abs/p") {
    val rows = q("q_power_mde").collect()
      .map(r => (r.getAs[Long]("divisor"), r.getAs[Long]("n_per_arm"),
        r.getAs[Double]("p_base"), r.getAs[Double]("mde_abs"),
        r.getAs[Double]("mde_rel"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._4 >= a._4, "halving n must not shrink the MDE")
      case _ =>
    }
    rows.foreach { case (_, n, p, mabs, mrel) =>
      // at the smoke SF every user converts (p = 1) and the MDE
      // degenerates to 0 — the formula pins still hold
      assert(n > 0 && p > 0 && p <= 1)
      assert(math.abs(mrel - mabs / p) < 1e-12)
      val want = 2.801585219 * math.sqrt(2.0 * p * (1.0 - p) / n)
      assert(math.abs(mabs - want) < 1e-12)
    }
  }

  test("NOT IN: the null-aware anti join equals the anti-join of " +
    "non-null keys when the subquery list has no nulls") {
    import org.apache.spark.sql.functions._
    val rows = q("q_join_notin").collect().map(_.getLong(0)).toSet
    val excluded = Tables.table(spark, sf, "supplier")
      .filter(col("s_acctbal") > 5000)
      .select(col("s_nationkey").cast("int")).collect()
      .map(_.getInt(0)).toSet
    val expect = Tables.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("int"))
      .collect()
      .filter(r => !excluded.contains(r.getInt(1)))
      .map(_.getLong(0)).toSet
    assert(rows == expect)
  }

  test("second-order Markov: conditionals sum to 1 per context and " +
    "counts marginalize to the first-order table") {
    val rows = q("q_markov2").collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getAs[Long]("n"), r.getAs[Double]("p")))
    rows.groupBy(t => (t._1._1, t._1._2)).foreach { case (_, g) =>
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-9)
    }
    // marginalizing prev2 out of the trigram counts reproduces the
    // bigram counts restricted to users with >= 3 events context —
    // weaker but useful: totals match the trigram row count
    val nTri = rows.map(_._2).sum
    assert(nTri > 0)
  }

  test("PRF expansion: terms rank by tf5*idf with deterministic ties " +
    "and every term appears in a top-5 feedback doc") {
    val rows = q("q_prf_expand").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("tok"),
        r.getAs[Long]("tf5"), r.getAs[Long]("df"),
        r.getAs[Long]("idf_fl"), r.getAs[Long]("score"))).sortBy(_._1)
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { case (_, _, tf5, df, idf, score) =>
      assert(score == tf5 * idf && idf >= 1 && df >= 1 && tf5 >= 1)
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._6 > b._6 || (a._6 == b._6 && a._2 < b._2))
      case _ =>
    }
  }

  test("fairness audit: the best-treated group reads DI 1.0 and " +
    "flags restate the four-fifths comparison") {
    val rows = q("q_fairness_audit").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("pass_rate"),
        r.getAs[Double]("di_ratio"), r.getAs[Boolean]("flagged")))
    val maxRate = rows.map(_._2).max
    assert(rows.exists(r => math.abs(r._3 - 1.0) < 1e-12))
    rows.foreach { case (_, rate, di, fl) =>
      assert(math.abs(di - rate / maxRate) < 1e-12)
      assert(fl == (di < 0.8))
    }
  }

  test("gate sweep: pass rates are monotone in both thresholds") {
    val cells = q("q_gate_sweep").collect()
      .map(r => ((r.getAs[Long]("min_len"), r.getAs[Long]("max_stop_pct")),
        r.getAs[Long]("n_pass"))).toMap
    for (s <- Seq(30L, 45L, 60L)) {
      assert(cells((100L, s)) >= cells((200L, s)))
      assert(cells((200L, s)) >= cells((400L, s)))
    }
    for (l <- Seq(100L, 200L, 400L)) {
      assert(cells((l, 30L)) <= cells((l, 45L)))
      assert(cells((l, 45L)) <= cells((l, 60L)))
    }
  }

  test("BPE apply: merges only ever shrink the symbol stream, and a " +
    "hand-applied word agrees") {
    val rows = q("q_bpe_apply").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("sym_after") <= r.getAs[Long]("sym_before"))
      assert(r.getAs[Double]("compression") <= 1.0)
    }
    // hand-apply to a known word: "the" -> "t h e" -> "th e" -> "the"
    def apply5(w: String): Int = {
      var s = w.toCharArray.mkString(" ")
      for ((f, t) <- Seq("t h" -> "th", "th e" -> "the", "i n" -> "in",
        "a n" -> "an", "r e" -> "re")) s = s.replace(f, t)
      s.split(" ").length
    }
    assert(apply5("the") == 1 && apply5("queen") == 5 &&
      apply5("thin") == 2)
  }

  test("streamed funnel equals the batch funnel bit-for-bit") {
    val b = q("q_funnel").collect().map(_.toString).toSeq
    val st = q("q_streaming_funnel").collect().map(_.toString).toSeq
    assert(st == b)
  }

  test("KMV set ops: short-of-k sketches give exact answers and the " +
    "estimators respect the inclusion bounds") {
    val r = q("q_kmv_setops").collect().head
    val (na, nb, xi, xu) = (r.getAs[Long]("ndv_a"), r.getAs[Long]("ndv_b"),
      r.getAs[Long]("exact_inter"), r.getAs[Long]("exact_union"))
    assert(xu == na + nb - xi)
    val m = r.getAs[Long]("m")
    assert(m == math.min(64L, xu))
    if (m < 64) {
      assert(r.getAs[Long]("est_union") == xu)
      assert(r.getAs[Long]("est_inter") == xi)
      assert(math.abs(r.getAs[Double]("est_jac") -
        xi.toDouble / xu) < 1e-12)
    } else {
      assert(r.getAs[Long]("est_union") > 0)
      assert(r.getAs[Long]("est_inter") <= r.getAs[Long]("est_union"))
    }
  }

  test("median CI: the interval brackets the median and the ranks " +
    "restate the z=1.96 order statistics") {
    val rows = q("q_median_ci").collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("k_lo") == math.max(1L,
        math.floor((n - 1.959963985 * math.sqrt(n.toDouble)) / 2.0).toLong))
      assert(r.getAs[Long]("k_hi") == math.min(n,
        math.ceil(1.0 + (n + 1.959963985 * math.sqrt(n.toDouble)) / 2.0)
          .toLong))
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("median"))
      assert(r.getAs[Double]("median") <= r.getAs[Double]("ci_hi"))
    }
  }

  test("EB shrinkage: every shrunk rate sits between its raw rate " +
    "and the corpus mean, with weight in (0, 1]") {
    val rows = q("q_eb_shrinkage").collect()
    val mu = rows.map(_.getAs[Long]("x")).sum.toDouble /
      rows.map(_.getAs[Long]("n")).sum
    rows.foreach { r =>
      val raw = r.getAs[Double]("raw_rate")
      val sh = r.getAs[Double]("shrunk_rate")
      val w = r.getAs[Double]("weight")
      assert(w > 0 && w <= 1)
      assert(sh >= math.min(raw, mu) - 1e-9 &&
        sh <= math.max(raw, mu) + 1e-9,
        s"shrunk $sh outside [$raw, $mu]")
    }
  }

  test("CvM: the nano-scaled statistic recomputes exactly from the " +
    "two samples") {
    import org.apache.spark.sql.functions._
    val r = q("q_cvm_test").collect().head
    val vals = Tables.table(spark, sf, "events")
      .select((col("user_id") % 2).as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val n0 = vals.count(_._1 == 0L).toLong
    val n1 = vals.count(_._1 == 1L).toLong
    val dom = vals.groupBy(_._2).map { case (v, g) =>
      (v, g.count(_._1 == 0L).toLong, g.count(_._1 == 1L).toLong)
    }.toSeq.sortBy(_._1)
    var c0 = 0L; var c1 = 0L; var s = BigInt(0)
    dom.foreach { case (_, a, b) =>
      c0 += a; c1 += b
      val dd = BigInt(c0) * n1 - BigInt(c1) * n0
      s += BigInt(a + b) * dd * dd
    }
    val t9 = (s * BigInt(1000000000) /
      (BigInt(n0) * n1 * (n0 + n1) * (n0 + n1))).toLong
    assert(r.getAs[Long]("n0") == n0 && r.getAs[Long]("n1") == n1)
    assert(r.getAs[Long]("t9") == t9)
    assert(r.getAs[Boolean]("reject_5pct") == (t9 > 461000000L))
  }

  test("readability: the per-source tallies recompute from raw text " +
    "and the grade is the documented tree over the sums") {
    import org.apache.spark.sql.functions._
    val rows = q("q_readability").collect()
    val raw = Tables.table(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byS = raw.groupBy(_._1)
    rows.foreach { r =>
      val texts = byS(r.getAs[String]("source")).map(_._2)
      val w = texts.map(_.split(" ", -1).length.toLong).sum
      val st = texts.map(t =>
        math.max("[.!?]+".r.findAllIn(t).length, 1).toLong).sum
      val sy = texts.map(t =>
        "[aeiou]+".r.findAllIn(t.toLowerCase).length.toLong).sum
      assert(r.getAs[Long]("words") == w)
      assert(r.getAs[Long]("sentences") == st)
      assert(r.getAs[Long]("syllables") == sy)
      val grade = 0.39 * (w.toDouble / st.toDouble) +
        11.8 * (sy.toDouble / w.toDouble) - 15.59
      assert(math.abs(r.getAs[Double]("fk_grade") - grade) < 1e-9)
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-12 TrainingMix block (token
  * budget, epoch plan, truncation waste, soft dedup, CCNet buckets,
  * annealed mix), at sf0.001 — the cross-column identities the DuckDB
  * oracle can't see because both engines would break them together.
  */
class TrainingMixSpec extends SparkSuite {

  test("token budget: statuses are a kept/boundary/dropped prefix " +
    "split in score order with a consistent cumulative curve") {
    val rows = q("q_token_budget").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(-_._1) // score desc = greedy pick order
    assert(rows.nonEmpty)
    // cumulative identity: cum_tokens is the running band_tokens sum
    var run = 0L
    rows.foreach { case (_, _, bt, cum, _) =>
      run += bt; assert(cum == run, "cum_tokens != running sum")
    }
    // at most one boundary band, and statuses are monotone
    // kept* boundary? dropped* down the score order
    assert(rows.count(_._5 == "boundary") <= 1)
    val order = Map("kept" -> 0, "boundary" -> 1, "dropped" -> 2)
    val seq = rows.map(r => order(r._5))
    assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
      "statuses not monotone in score order")
    // every doc is in some band: total tokens = last cum
    val total = rows.map(_._3).sum
    assert(rows.last._4 == total)
    // budget sanity: kept mass <= 40% of total (the boundary band is
    // the first to cross the line)
    val keptMass = rows.filter(_._5 == "kept").map(_._3).sum
    assert(keptMass <= total * 2 / 5)
  }

  test("epoch plan: ceil-division seq counts and a normalized target " +
    "mix") {
    val rows = q("q_epoch_plan").collect()
    rows.foreach { r =>
      val tokens = r.getLong(2); val nSeqs = r.getLong(3)
      assert(nSeqs == (tokens + 511) / 512)
      assert(r.getLong(4) == (nSeqs + 63) / 64)
    }
    val pSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(pSum - 1.0) < 1e-9, s"p_target sums to $pSum")
    // epochs_at_target > 1 exactly for the up-sampled (small) sources
    rows.foreach { r =>
      val share = r.getLong(2).toDouble /
        rows.map(_.getLong(2)).sum.toDouble
      val up = r.getDouble(6) > 1.0
      assert(up == (r.getDouble(5) > share + 1e-12) ||
        math.abs(r.getDouble(5) - share) < 1e-9)
    }
  }

  test("truncation waste: integer identities tie the five counters " +
    "together") {
    q("q_trunc_waste").collect().foreach { r =>
      val (nDocs, total, trunc, pad) =
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))
      val kept = math.round(r.getDouble(6) * nDocs * 128)
      assert(kept == total - trunc, "kept != total - trunc")
      assert(pad == nDocs * 128 - kept, "pad != capacity - kept")
    }
  }

  test("soft dedup: effective docs sum to the cluster count within " +
    "quantization, never exceeding raw counts") {
    val rows = q("q_soft_dedup").collect()
    val nDocs = rows.map(_.getLong(1)).sum
    val effDocs = rows.map(_.getDouble(2)).sum
    val nClusters = q("q_dedup_cluster")
      .select(countDistinct("cluster_id")).head().getLong(0)
    // each weight is 1/n quantized to 1e-4: the global sum of weights
    // is exactly the cluster count up to docs * 5e-5 rounding slack
    assert(math.abs(effDocs - nClusters) <= nDocs * 5e-5 + 1e-9,
      s"sum(w)=$effDocs vs clusters=$nClusters")
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getLong(1) + 1e-9)
      assert(r.getDouble(4) <= r.getLong(3) + 1e-6)
    }
  }

  test("ccnet buckets: per-lang bucket counts partition the corpus " +
    "and tertile thresholds respect the cum*3<=n rule") {
    val rows = q("q_ccnet_buckets").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val perLang = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val docs = Tables.table(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(n == docs(lang), s"$lang buckets don't partition corpus")
    }
    // band-granular tertiles: head <= n/3 docs (the threshold is the
    // LAST band fully inside the first tertile)
    rows.filter(_._2 == "head").foreach { case (lang, _, n) =>
      assert(n * 3 <= docs(lang), s"$lang head bucket exceeds tertile")
    }
  }

  test("mixture ablation: every slice's removal complements the " +
    "global masses") {
    val rows = q("q_mixture_ablate").collect()
    val docs = Tables.table(spark, sf, "documents")
    val n = docs.count()
    val perSrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.length == perSrc.size)
    rows.foreach { r =>
      // docs_left + removed slice == corpus, for every source
      assert(r.getLong(1) == n - perSrc(r.getString(0)),
        s"${r.getString(0)} docs_left wrong")
      assert(r.getLong(2) > 0 && r.getLong(4) >= 0)
    }
  }

  test("memorization risk: the grid partitions the corpus and shares " +
    "sum to one") {
    val rows = q("q_memorization_risk").collect()
    val n = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == n, "grid does not partition")
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"token shares sum $shareSum")
    // every band label is one of the four declared ones
    val bands = rows.map(_.getString(0)).toSet
    assert(bands.subsetOf(
      Set("1_unique", "2_pair", "3_small", "4_family")))
  }

  test("anneal mix: shares normalize and exactly the top-2 ranked " +
    "sources are boosted") {
    val rows = q("q_anneal_mix").collect()
    def colSum(i: Int) = rows.map(_.getDouble(i)).sum
    assert(math.abs(colSum(5) - 1.0) < 1e-9)
    assert(math.abs(colSum(6) - 1.0) < 1e-9)
    assert(math.abs(colSum(7) - 1.0) < 1e-9)
    assert(rows.count(_.getLong(4) <= 2) == 2)
    // a boosted source's anneal share strictly exceeds its base share
    // (3x mass against a partition function < 3x total)
    rows.filter(_.getLong(4) <= 2).foreach { r =>
      assert(r.getDouble(6) > r.getDouble(5))
    }
    rows.filter(_.getLong(4) > 2).foreach { r =>
      assert(r.getDouble(6) < r.getDouble(5))
    }
  }
}

package graft

/** Brute-force re-derivations for the round-6 pair-mining operators at
  * sf0.001 (association rules, common-neighbor link prediction, the
  * blocked prefix set-similarity join) plus plan pins for the TPC-H
  * macro additions (Q7/Q14/Q17).
  */
class PairMiningSpec extends SparkSuite {

  test("ssjoin: blocked prefix-filter candidates lose no qualifying " +
      "pair (exact within-block Jaccard, brute-forced)") {
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").distinct.toSet))
    val want = (for {
      Seq((a, sa, ta), (b, sb, tb)) <- docs.sortBy(_._1).toSeq.combinations(2)
      if sa == sb
      inter = (ta & tb).size
      jac = inter.toDouble / (ta.size + tb.size - inter)
      if jac >= 0.8
    } yield (math.min(a, b), math.max(a, b), inter.toLong, jac)).toSeq
      .sortBy(p => (p._1, p._2))
    val got = q("q_ssjoin_prefix").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("inter"), r.getAs[Double]("jac"))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "degenerate test: no qualifying pairs at sf0.001")
  }

  test("assoc rules: confidence and lift reconcile with brute-forced " +
      "basket counts, and directions are asymmetric") {
    val baskets = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (_, ls) => ls.map(_._2).toSet }.toSeq
    val n = baskets.size.toLong
    val freq = baskets.flatten.groupBy(identity)
      .map { case (p, os) => (p, os.size.toLong) }
    val pairCount = baskets
      .flatMap(b => b.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, os) => (p, os.size.toLong) }
      .filter(_._2 >= 2)
    q("q_assoc_rules").collect().foreach { r =>
      val (ant, con, cab) = (r.getAs[Long]("ant"), r.getAs[Long]("con"),
        r.getAs[Long]("c_ab"))
      val key = (math.min(ant, con), math.max(ant, con))
      assert(pairCount(key) == cab, s"$key count")
      assert(r.getAs[Double]("supp") == cab.toDouble / n)
      assert(r.getAs[Double]("conf") == cab.toDouble / freq(ant))
      assert(r.getAs[Double]("lift") ==
        (n * cab).toDouble / (freq(ant) * freq(con)).toDouble)
    }
  }

  test("common neighbors: pair counts and Jaccard equal the brute-forced " +
      "bipartite overlap") {
    val sp = Tables.table(spark, sf, "lineitem")
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parts = sp.groupBy(_._1).map { case (s, ps) =>
      (s, ps.map(_._2).toSet) }
    q("q_graph_commonnbrs").collect().foreach { r =>
      val (sa, sb) = (r.getAs[Long]("sa"), r.getAs[Long]("sb"))
      val inter = (parts(sa) & parts(sb)).size.toLong
      assert(r.getAs[Long]("common") == inter, s"($sa,$sb)")
      assert(r.getAs[Double]("jac") == inter.toDouble /
        (parts(sa).size + parts(sb).size - inter))
    }
  }

  test("ngram df-cap: a viral shingle is dropped with CAPPED semantics " +
      "(round 11 — the cap is mirrored in the DuckDB CTE, so agreement " +
      "is structural; this pins the Spark side against an independent " +
      "capped recompute on a synthetic viral corpus)") {
    import spark.implicits._
    val cap = operators.TextPipeline.NgramDfCap
    // Synthetic corpus: `cap + 20` docs all opening with the same viral
    // 3-gram ("v0 v1 v2", df = cap+22 > cap -> dropped by both
    // engines), built as BORDERLINE near-dup pairs: docs 2k/2k+1 have
    // 9 shingles each of which 6 are shared INCLUDING the viral one —
    // uncapped jac = 6/12 = 0.5 (pair kept), capped jac = 5/13 < 0.5
    // (pair dropped), so the cap decides these pairs. Plus one
    // exact-dup pair (9000/9001) kept under both semantics but with a
    // cap-dependent jac VALUE (6/8 vs 7/7).
    val docs = (0 until (cap + 20)).map { k =>
      val p = k / 2
      val uniq = (0 until 3).map(i => s"u${k}_$i").mkString(" ")
      (k.toLong, s"v0 v1 v2 s${p}_a s${p}_b s${p}_c s${p}_d s${p}_e $uniq")
    } ++ Seq(
      (9000L, "v0 v1 v2 dup dup2 dup3 dup4 dup5 dup6"),
      (9001L, "v0 v1 v2 dup dup2 dup3 dup4 dup5 dup6"))
    val dir = java.nio.file.Files.createTempDirectory("viral").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = operators.TextPipeline.ngramPairsCompute(spark, dir)
      .select("a_id", "b_id", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent capped recompute: distinct shingles per doc, grams
    // kept iff 2 <= df <= cap, jac = capped-inter / full-set union
    val sets = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet }.toMap
    val df = sets.values.flatten.groupBy(identity).map {
      case (g, occ) => g -> occ.size }
    val kept = df.collect { case (g, n) if n >= 2 && n <= cap => g }.toSet
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      inter = (sets(i) & sets(j) & kept).size
      union = sets(i).size + sets(j).size - inter
      jac = inter.toDouble / union if jac >= 0.5
    } yield (i, j, jac)).toSet
    // under capped semantics ONLY the exact-dup pair survives (jac
    // 6/8 = 0.75 — viral gram excluded from the intersection, full set
    // sizes in the union); every borderline pair falls to 5/13
    assert(want == Set((9000L, 9001L, 0.75)))
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // teeth: the UNCAPPED relation disagrees on this corpus — the
    // borderline pairs cross 0.5 only with the viral gram counted
    val uncapped = (for {
      i <- ids; j <- ids if i < j
      inter = (sets(i) & sets(j)).size
      union = sets(i).size + sets(j).size - inter
      jac = inter.toDouble / union if jac >= 0.5
    } yield (i, j, jac)).toSet
    assert(uncapped != want, "viral corpus fails to separate the " +
      "capped and uncapped semantics — test has no teeth")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("minhash NaN guard: gram-less docs (<3 tokens) never pair " +
      "(their 0/0 jaccard is NaN and Spark's nan-safe compare passes " +
      ">= filters — ADVICE r11 #1)") {
    import spark.implicits._
    // three gram-less docs sharing identical all-MaxValue minima (they
    // collide in EVERY band) + one genuine dup pair as a positive
    // control
    val docs = Seq(
      (1L, "short"), (2L, "two tokens"), (3L, "also two"),
      (10L, "a genuine duplicate pair of documents right here ok"),
      (11L, "a genuine duplicate pair of documents right here ok"))
    val dir = java.nio.file.Files.createTempDirectory("nanpair").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_dedup_minhash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (_, _, j) => !j.isNaN },
      s"NaN jaccard emitted: ${got.mkString(",")}")
    assert(got.map(t => (t._1, t._2)).toSet == Set((10L, 11L)),
      s"expected only the control pair, got ${got.mkString(",")}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("macro plans: Q7 shuffles only on the order key, Q14/Q17 join " +
      "via broadcast only, ssjoin never goes cartesian") {
    // Q7: both nation-sliced dimensions broadcast; exactly the
    // lineitem<->orders equi-join may sort-merge/shuffle-hash
    val p7 = q("q_tpch_q7").queryExecution.executedPlan.toString
    assert(p7.contains("BroadcastHashJoin"), p7.take(1500))
    val heavy7 = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p7).size
    assert(heavy7 <= 1, s"Q7 has $heavy7 shuffle joins:\n${p7.take(2000)}")
    for (name <- Seq("q_tpch_q14", "q_tpch_q17")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(1500)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name must join via broadcast only:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), name)
    }
    val ps = q("q_ssjoin_prefix").queryExecution.executedPlan.toString
    assert(!ps.contains("CartesianProduct"), ps.take(2000))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-17 pins: the q_dedup_embedding all-pairs guard is a PAIR
  * budget (verdict task #3) — the cap derivation is asserted in
  * closed form and the tripwire is exercised on a real over-budget
  * table, so a future loosening of either fails here.
  */
class Round17Spec extends SparkSuite {

  test("all-pairs vector cap derives from the 5e9 pair budget: " +
    "n(n-1)/2 <= budget and (n+1)n/2 > budget") {
    val n = graft.operators.Similarity.allPairsMaxVectors
    val b = graft.operators.Similarity.allPairsBudget
    assert(n * (n - 1) / 2 <= b,
      s"cap $n exceeds the pair budget: ${n * (n - 1) / 2} > $b")
    assert((n + 1) * n / 2 > b,
      s"cap $n is not tight: ${(n + 1) * n / 2} <= $b")
    // the budget keeps the cap five orders below the old 1M bound's
    // implied 5e11 pairs — the guard fires while work is tractable
    assert(n <= 200000L, s"cap $n admits an untractable all-pairs job")
  }

  test("q_dedup_embedding refuses an over-budget embeddings table " +
    "and names the bucketed spellings") {
    val dir = tmpDir("pairbudget")
    val cap = graft.operators.Similarity.allPairsMaxVectors
    // cap+1 one-element vectors: the guard's limit(cap+1).count()
    // trips before any join is planned
    spark.range(cap + 1)
      .select(col("id").as("vec_id"),
        array(lit(0.25f)).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_dedup_embedding")(spark, dir)
    }
    assert(e.getMessage.contains("pair budget"), e.getMessage)
    assert(e.getMessage.contains("q_sim_lsh"), e.getMessage)
    cleanup(dir)
  }

  // ---- incremental minhash-index maintenance (verdict task #6) ---- //

  test("q_minhash_delta: stored base-only census + delta work equals " +
    "the from-scratch q_dedup_minhash rebuild on the merged corpus") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jac"))
    val scratch = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .collect().map(key).toSet
    val delta = SparkEntry.queries("q_minhash_delta")(spark, sf)
      .collect().map(key).toSet
    assert(delta.nonEmpty, "delta batch produced no pairs at sf0.001")
    // the delta output is EXACTLY the delta-involved slice of the
    // from-scratch rebuild...
    val expectedDelta = scratch.filter { case (a, b, _) =>
      a % 5 == 0 || b % 5 == 0 }
    assert(delta == expectedDelta,
      s"delta mismatch: extra=${delta -- expectedDelta}, " +
        s"missing=${expectedDelta -- delta}")
    // ...so stored base×base pairs + delta work rebuild the census
    val baseOnly = scratch.filter { case (a, b, _) =>
      a % 5 != 0 && b % 5 != 0 }
    assert((baseOnly ++ delta) == scratch && (baseOnly & delta).isEmpty,
      "base-only ∪ delta must partition the from-scratch census")
  }

  // ---- benchmark-contamination fixture (verdict task #4) ---- //

  test("q_contam_spans: a copied benchmark doc and a 13-gram quote " +
    "yield exactly the hand-computed contaminated spans") {
    import spark.implicits._
    val dir = tmpDir("contam")
    // doc 6 passes the md5('bm'||id) benchmark gate (hex digit '0');
    // docs 0/1/2 do not (verified via MessageDigest below)
    def gate(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"bm$id".getBytes("UTF-8")).take(1)
        .map("%02x".format(_)).mkString.startsWith("0")
    }
    assert(gate(6) && !gate(0) && !gate(1) && !gate(2))
    val w = (1 to 20).map(i => s"w$i")
    val benchText = w.mkString(" ")                       // w1..w20
    val quote = "x1 x2 " + w.take(13).mkString(" ") + " x3"
    val rows = Seq(
      (6L, benchText, "en", "src0", benchText.length.toLong),
      (0L, quote, "en", "src0", quote.length.toLong),     // 1 gram hit
      (1L, benchText, "en", "src1", benchText.length.toLong), // copy
      (2L, "y1 y2 y3", "en", "src2", 8L))                 // clean
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_contam_spans")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"),
        r.getAs[Long]("n_grams")))
    // doc 0: grams at pos 1..4; only pos 3 (= w1..w13) matches a
    //   benchmark gram -> one 13-token span [3, 16)
    // doc 1: a verbatim copy -> all 8 grams hit, one fused island
    //   [1, 21) of length 20
    // doc 2 clean, doc 6 is the benchmark itself (never reported)
    assert(out.toSeq == Seq(
      (0L, 3L, 16L, 13L, 1L),
      (1L, 1L, 21L, 20L, 8L)), out.mkString(", "))
    cleanup(dir)
  }

  // ---- Bradley-Terry fixture (round-17 depth) ---- //

  test("q_bradley_terry: 3-1 head-to-head record lands on the exact " +
    "MM fixed point theta = (1.5, 0.5)") {
    import spark.implicits._
    val dir = tmpDir("btfix")
    def day(i: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00")
    // click outdraws view on days 1-3; view wins day 4 -> n=4, w=3:1.
    // MM fixed point: theta_c = 3(tc+tv)/4, theta_v = (tc+tv)/4 with
    // the sum renormalized to 2 -> (1.5, 0.5), exact on the 1e6 grid.
    val rows =
      (1 to 3).flatMap(dd => Seq(
        (dd * 10L, 1L, "click", day(dd), 1.0),
        (dd * 10L + 1, 1L, "click", day(dd), 1.0),
        (dd * 10L + 2, 1L, "view", day(dd), 1.0))) ++ Seq(
        (40L, 1L, "click", day(4), 1.0),
        (41L, 1L, "view", day(4), 1.0),
        (42L, 1L, "view", day(4), 1.0))
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_bradley_terry")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_comparisons"), r.getAs[Long]("wins"),
          r.getAs[Double]("theta")))).toMap
    assert(out("click") == ((4L, 3L, 1.5)), out.toString)
    assert(out("view") == ((4L, 1L, 0.5)), out.toString)
    cleanup(dir)
  }

  // ---- PCA power-iteration fixture (round-17 depth) ---- //

  test("q_pca_power: an axis-aligned corpus converges to e1 exactly " +
    "(loading 1 on dim 1, 0 elsewhere, lambda = G11)") {
    import spark.implicits._
    val dir = tmpDir("pcafix")
    def axis(d: Int, v: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == d) v else 0.0f)
    // 3 vectors on dim 1 at 1.0, one on dim 2 at 0.5: the component
    // ratio shrinks 12x per iteration (G22/G11 = 2^38/(3*2^40)) and
    // floors to 0 by iteration 6 of 8; lambda = G11 = 3*(2^20)^2
    val rows = Seq(
      (0L, axis(0, 1.0f), 0), (1L, axis(0, 1.0f), 0),
      (2L, axis(0, 1.0f), 0), (3L, axis(1, 0.5f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_pca_power")(spark, dir).collect()
      .map(r => r.getAs[Long]("dim") ->
        ((r.getAs[Double]("loading"), r.getAs[Double]("lambda"))))
      .toMap
    val g11 = 3.0 * 1048576.0 * 1048576.0
    assert(out(1L) == ((1.0, g11)), out(1L).toString)
    (2L to 64L).foreach(dd =>
      assert(out(dd)._1 == 0.0, s"dim $dd: ${out(dd)}"))
    cleanup(dir)
  }

  // ---- batch-padding fixture (round-17 depth) ---- //

  test("q_batch_padding: lengths 1..20 at B=16 pad the full batch " +
    "to 16 and the 4-doc tail to 20 — hand-computed 336 padded") {
    import spark.implicits._
    val dir = tmpDir("batchpad")
    val rows = (1 to 20).map(n =>
      (n.toLong, (1 to n).map(i => s"t$i").mkString(" "), "en",
        "src0", n.toLong))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_batch_padding")(spark, dir)
      .collect().map(r => r.getAs[Long]("batch_size") -> r).toMap
    val b16 = out(16L)
    // sorted batch 1 = lengths 1..16 (max 16), tail = 17..20 padded
    // to lmax 20: padded = 16*16 + 4*20 = 336; real = 210
    assert(b16.getAs[Long]("n_docs") == 20L)
    assert(b16.getAs[Long]("real_tokens") == 210L)
    assert(b16.getAs[Long]("n_batches") == 2L)
    assert(b16.getAs[Long]("padded_tokens") == 336L)
    assert(b16.getAs[Long]("worst_case_tokens") == 400L)
    assert(b16.getAs[Double]("waste_share") == (336.0 - 210.0) / 336.0)
    // B=64: one partial batch of all 20 docs padded to 20 -> 400
    assert(out(64L).getAs[Long]("padded_tokens") == 400L)
    cleanup(dir)
  }

  // ---- streaming band-index equality (round-17 depth) ---- //

  test("q_streaming_bandindex: the drained live-index collisions " +
    "equal the batch candidate relation exactly") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
    val streamed = SparkEntry.queries("q_streaming_bandindex")(spark, sf)
      .collect().map(key).toSet
    val batch = graft.operators.Dedup.minhashCandidates(spark, sf)
      .collect().map(key).toSet
    assert(streamed.nonEmpty, "no collisions streamed at sf0.001")
    assert(streamed == batch,
      s"extra=${streamed -- batch}, missing=${batch -- streamed}")
  }
}

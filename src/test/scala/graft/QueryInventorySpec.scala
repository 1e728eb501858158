package graft

/** Inventory-level checks at sf0.001: every registered query runs and
  * returns rows; every oracle key has a query; cross-checks between
  * independent implementations of the same semantics (MinHash candidates
  * vs exact n-gram Jaccard pairs; streaming vs batch tumbling windows).
  */
class QueryInventorySpec extends SparkSuite {

  test("oracle keys are a subset of query keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
  }

  test("SURVEY.md §2.C names exactly the registered query set and " +
    "states the registered count") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    // table rows may name several queries: | `q_a` / `q_b` | ... |
    val surveyed = "`(q_[a-z0-9_]+)`".r.findAllMatchIn(text)
      .map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    assert(registered.subsetOf(surveyed),
      s"registered but missing from SURVEY: ${registered.diff(surveyed)}")
    assert(surveyed.subsetOf(registered),
      s"in SURVEY but not registered: ${surveyed.diff(registered)}")
    // the §2.C preamble must state the true count (doc-drift guard)
    assert(text.contains(s"**${registered.size} queries**"),
      s"SURVEY preamble count out of sync; tree registers " +
        s"${registered.size}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).count()
        if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with empty results: $empties")
  }

  test("MinHash LSH candidates equal exact n-gram Jaccard pairs") {
    val lsh = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // LSH is a candidate filter + exact verification at the same 0.5
    // threshold, so on this corpus (planted near-dups at jac>0.9,
    // background <0.3) the two must agree exactly.
    assert(lsh.toSet == exact.toSet)
    assert(lsh.nonEmpty)
  }

  test("near-dup clusters equal union-find over the exact pair relation") {
    val pairs = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find with min-id roots — an independent algorithm
    // for the same components the iterative propagation computes
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = SparkEntry.queries("q_dedup_cluster")(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.nonEmpty)
    got.foreach { case (doc, cl) =>
      assert(cl == find(doc), s"doc $doc: got cluster $cl, want ${find(doc)}")
    }
  }

  test("streaming tumbling windows equal batch tumbling windows") {
    val stream = SparkEntry.queries("q_streaming_rate")(spark, sf)
      .select("hour_start", "event_type", "n").collect().toSet
    val batch = SparkEntry.queries("q_window_tumbling")(spark, sf)
      .select("hour_start", "event_type", "n").collect().toSet
    assert(stream == batch)
  }

  test("stateful streaming sessions equal batch session_window, " +
      "each emitted exactly once across a multi-batch replay") {
    // the replay is genuinely multi-batch (two time-split halves, the
    // watermark sentinel riding in the last), so mid-stream event-time
    // timeouts fire between batches
    val replay = new java.io.File(
      streaming.StatefulSession.replayDir(spark, sf))
    assert(replay.listFiles().count(_.getName.endsWith(".parquet")) >= 2)
    val rows = SparkEntry.queries("q_streaming_session")(spark, sf)
      .collect().map(_.toSeq)
    // closed sessions are append-mode emissions: exactly once each
    assert(rows.length == rows.toSet.size)
    val batch = SparkEntry.queries("q_window_session")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(rows.toSet == batch && rows.nonEmpty)
  }

  test("streaming CDC upsert applies genuinely multi-batch and matches " +
      "batch keep-latest") {
    import org.apache.spark.sql.functions.{col, row_number, unix_micros}
    val rows = SparkEntry.queries("q_streaming_upsert")(spark, sf)
      .collect().map(_.toSeq)
    assert(rows.nonEmpty)
    // one row per live (user, type) key
    assert(rows.map(_.take(2)).distinct.length == rows.length)
    // the newest state dir is v2+: at least two microbatches were
    // MERGEd (one per time-split replay file), not one collapsed batch
    val root = new java.io.File(graft.Scratch.dir("graft_upsert"))
    val latestRun = root.listFiles().filter(_.getName.startsWith("run-"))
      .maxBy(_.lastModified)
    val versions = latestRun.listFiles().map(_.getName).sorted.toSeq
    assert(versions.count(_.startsWith("v")) >= 2, versions.mkString(","))
    // equals the batch keep-latest over the same replayed columns
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables.table(spark, sf, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"), col("event_id"))
      .orderBy("user_id", "event_type")
      .collect().map(_.toSeq)
    assert(rows.toSeq == batch.toSeq)
  }

  test("LSH ANN: exact scores, reproducible buckets, recall floor") {
    val vecs = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(a: Array[Float]): Array[Long] =
      a.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    def cos(a: Long, b: Long): Double = {
      val qa = quant(vecs(a)); val qb = quant(vecs(b))
      val dot = qa.lazyZip(qb).map(_ * _).sum
      dot.toDouble / (math.sqrt(qa.map(x => x * x).sum.toDouble) *
        math.sqrt(qb.map(x => x * x).sum.toDouble))
    }
    // independent re-derivation of the multi-table random-hyperplane
    // buckets (L=8 tables x k=4 planes — the adaptive plane count
    // resolves to 4 for this 500-vector fixture): plane id P = t*k+p,
    // integer component for dim i = (low 16 bits of md5("lsh|P|i"))
    // - 2^15, exact int64 dot over the 2^20 fixed-point elements
    // (round-12 md5 rebase — raw MessageDigest here, independent of
    // functions.Md5Long)
    def comp(plane: Int, dim: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lsh|$plane|$dim".getBytes("UTF-8"))
      (((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) - 32768L
    }
    def buckets(v: Array[Float]): Seq[Long] = {
      val q = quant(v)
      (0 until 8).map { t =>
        (0 until 4).map { p =>
          val dot = q.indices.map(i => q(i) * comp(t * 4 + p, i)).sum
          if (dot >= 0L) 1L << p else 0L
        }.sum
      }
    }
    def collides(a: Array[Float], b: Array[Float]): Boolean =
      buckets(a).lazyZip(buckets(b)).exists(_ == _)
    val lsh = SparkEntry.queries("q_sim_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(lsh.nonEmpty)
    // every emitted score is the exact cosine of a real corpus pair,
    // bit-for-bit (LSH only prunes candidates, never alters scores)
    lsh.foreach { case (p, c, s, _) => assert(s == cos(p, c), s"($p,$c)") }
    // full-result equality with a from-scratch multi-table top-5
    val expected = (0L until 10L).flatMap { p =>
      vecs.keys.filter(c => c != p && collides(vecs(p), vecs(c)))
        .map(c => (p, c, cos(p, c))).toSeq
        .sortBy { case (_, c, s) => (-s, c) }.take(5).zipWithIndex
        .map { case ((pp, c, s), i) => (pp, c, s, (i + 1).toLong) }
    }.toSet
    assert(lsh.toSet == expected)
    // recall against the exact brute-force top-5 (the LSH bargain:
    // approximate, but must find a meaningful share of true neighbors)
    val brute = (0L until 10L).map { p =>
      p -> vecs.keys.filter(_ != p).map(c => (c, cos(p, c))).toSeq
        .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    }
    val lshByProbe = lsh.groupBy(_._1)
      .map { case (p, rs) => p -> rs.map(_._2).toSet }
    val recall = brute.map { case (p, bs) =>
      (bs & lshByProbe.getOrElse(p, Set.empty[Long])).size }.sum.toDouble /
      brute.map(_._2.size).sum
    info(f"LSH recall vs brute-force top-5: $recall%.2f")
    // deterministic construction + fixed corpus => stable measure
    // (0.60 on this fixture); the floor leaves noise-free headroom
    assert(recall >= 0.4, s"recall $recall below floor")
  }

  test("multi-probe IVF dominates single-probe; int8 quantization bounds") {
    // nprobe=2's probed buckets are a superset of nprobe=1's (the top-2
    // centroids include the top-1), so per probe the rank-k candidate
    // cosine can only improve — pointwise dominance, the defining
    // property of the multi-probe recall knob
    def byProbe(q: String): Map[Long, Seq[Double]] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
        .groupBy(_._1)
        .map { case (p, rs) => p -> rs.sortBy(_._3).map(_._2).toSeq }
    val one = byProbe("q_sim_ivf")
    val two = byProbe("q_sim_ivf2")
    assert(one.keySet == two.keySet)
    for (p <- one.keySet; (c1, c2) <- one(p).zip(two(p)))
      assert(c2 >= c1, s"probe $p: nprobe=2 cosine $c2 below nprobe=1 $c1")
    // int8 quantization invariants: codes in [-127, 127]; per-element
    // floor residual < one quantization step (maxabs in fixed-point
    // units), so the exact integer error sum is < 64 * maxabs^2
    val quant = SparkEntry.queries("q_embed_quantize")(spark, sf).collect()
    assert(quant.nonEmpty)
    quant.foreach { r =>
      val maxabs = r.getLong(1)
      val codes = r.getString(2).split(",").map(_.toLong)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec ${r.getLong(0)}")
      val sqErr = r.getDouble(3)
      val bound = 64.0 * maxabs.toDouble * maxabs.toDouble /
        17734023044399104.0
      assert(sqErr >= 0.0 && sqErr < bound,
        s"vec ${r.getLong(0)}: sq_err $sqErr outside [0, $bound)")
    }
  }

  test("CDC chunking reassembles each document, driver-side re-derivation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // independent chunker: same gate (first md5 nibble <= '1'), plain
    // sequential loop instead of windows/joins
    def chunk(text: String): Seq[(Long, Long, String)] = {
      val toks = text.split(" ", -1)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var id = 0L
      for (t <- toks) {
        cur += t
        if (md5hex(t).head <= '1') {
          out += ((id, cur.size.toLong, md5hex(cur.mkString(" "))))
          id += 1; cur = scala.collection.mutable.ArrayBuffer[String]()
        }
      }
      if (cur.nonEmpty) out += ((id, cur.size.toLong, md5hex(cur.mkString(" "))))
      out.toSeq
    }
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.flatMap { case (id, text) =>
      chunk(text).map { case (cid, n, h) => (id, cid, n, h) }
    }.toSet
    val got = SparkEntry.queries("q_chunk_cdc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("round-5 invariants: hopping fan-out, merge counts, interleave " +
      "permutation, url dedup partition") {
    import org.apache.spark.sql.functions._
    // hopping: 1h window / 30min hop => every event lands in exactly 2
    // windows, so counts sum to 2x the event count
    val nEvents = Tables.table(spark, sf, "events").count()
    val hopSum = SparkEntry.queries("q_window_hopping")(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(hopSum == 2 * nEvents)
    // merge: |result| = |base| + |inserts|; updated rows repriced 1.1x
    val base = Tables.table(spark, sf, "orders")
    val merged = SparkEntry.queries("q_merge_upsert")(spark, sf)
    val nIns = base.filter(col("o_orderkey") % 97 === 0).count()
    assert(merged.count() == base.count() + nIns)
    val reprice = merged.filter(col("change") === "updated").as("m")
      .join(base.as("b"), col("m.o_orderkey") === col("b.o_orderkey"))
      .filter(col("m.o_totalprice") =!= col("b.o_totalprice") * 1.1)
    assert(reprice.isEmpty)
    // interleave: per-source ranks are a 1..n permutation and
    // stream_pos is rank * pace (pace in 1..3)
    val il = SparkEntry.queries("q_interleave")(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    il.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq, src)
      val pace = rows.head._3 / rows.head._2
      assert((1L to 3L).contains(pace) &&
        rows.forall(r => r._3 == r._2 * pace), src)
    }
    // url dedup: variant counts partition the corpus; keeper is a real
    // member of its group (min doc_id can't exceed any member)
    val urls = SparkEntry.queries("q_dedup_url")(spark, sf).collect()
    assert(urls.map(_.getLong(1)).sum ==
      Tables.table(spark, sf, "documents").count())
  }

  test("round-5 scoring invariants: perplexity mass, curriculum " +
      "partition, sampling rates, keep-latest keys, profile sanity") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
    val nDocs = docs.count()
    val nToks = docs.agg(sum(size(split(col("text"), " "))))
      .collect()(0).getLong(0)
    // perplexity: one row per doc; token mass preserved; bits >= 0
    val ppl = SparkEntry.queries("q_perplexity")(spark, sf).collect()
    assert(ppl.length == nDocs)
    assert(ppl.map(_.getLong(1)).sum == nToks)
    assert(ppl.forall(r => r.getLong(2) >= 0 && r.getDouble(3) >= 0))
    // curriculum bins partition the corpus into 10 ordered deciles
    val bins = SparkEntry.queries("q_curriculum_bins")(spark, sf).collect()
    assert(bins.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(bins.map(_.getLong(1)).sum == nDocs)
    assert(bins.sliding(2).forall(p => p(0).getLong(3) <= p(1).getLong(2)))
    // weighted sampling: per-source keep rate tracks its weight
    val kept = SparkEntry.queries("q_sample_weighted")(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    bySrc.foreach { case (src, n) =>
      val w = (src.filter(_.isDigit).toLong % 3 + 1) * 0.25
      val rate = kept.getOrElse(src, 0L).toDouble / n
      // md5 gates are iid-uniform per doc: allow 4 sigma of binomial
      // noise (small sources at sf0.001 carry only a handful of docs)
      val tol = math.max(0.1, 4 * math.sqrt(w * (1 - w) / n))
      assert(math.abs(rate - w) < tol, s"$src rate $rate vs weight $w ($n docs)")
    }
    // keep-latest: exactly one row per live (user_id, event_type) key
    val events = Tables.table(spark, sf, "events")
    val nKeys = events.select("user_id", "event_type").distinct().count()
    assert(SparkEntry.queries("q_keep_latest")(spark, sf).count() == nKeys)
    // profile: one row per orders column, distinct <= nonnull, min <= max
    val prof = SparkEntry.queries("q_profile_table")(spark, sf).collect()
    assert(prof.length == 6)
    assert(prof.forall(r => r.getLong(2) <= r.getLong(1)))
    // df stopwords: ratios in (0.5, 1]; semantic dedup: cos in [-1, 1],
    // at most 5 pairs per bucket
    val dfw = SparkEntry.queries("q_df_stopwords")(spark, sf).collect()
    assert(dfw.nonEmpty &&
      dfw.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
    val sem = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
    assert(sem.nonEmpty && sem.forall { r =>
      val cos = r.getDouble(3)
      cos >= -1.0 && cos <= 1.0 && r.getLong(4) <= 5 &&
        r.getLong(1) < r.getLong(2)
    })
    // k-means step: every vector contributes to exactly one centroid
    // (per-dimension member counts over dim 1 sum to the corpus size),
    // and centroids stay inside the data's quantized range
    val km = SparkEntry.queries("q_kmeans_step")(spark, sf).collect()
    val nVecs = Tables.table(spark, sf, "embeddings").count()
    assert(km.filter(_.getLong(1) == 1L).map(_.getLong(2)).sum == nVecs)
    assert(km.forall(r => math.abs(r.getDouble(3)) <= 1.5))
    // incremental agg == the full-table aggregate it replaces
    val inc = SparkEntry.queries("q_incremental_agg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = Tables.table(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), graft.Det.sumd(col("o_totalprice")))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(inc.toSeq == full.toSeq)
  }

  test("simhash signatures: near-dup pairs have small hamming distance") {
    import org.apache.spark.sql.functions._
    val sig = SparkEntry.queries("q_dedup_simhash")(spark, sf)
      .select("doc_id", "simhash")
    val pairs = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select("a_id", "b_id")
    val a = sig.withColumnRenamed("doc_id", "a_id")
      .withColumnRenamed("simhash", "sim_a")
    val b = sig.withColumnRenamed("doc_id", "b_id")
      .withColumnRenamed("simhash", "sim_b")
    val joined = pairs.join(a, "a_id").join(b, "b_id")
      .select(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("ham"))
      .collect().map(_.getInt(0))
    // planted near-dups (jaccard > 0.9) must land within 16 bits
    assert(joined.nonEmpty && joined.forall(_ <= 16),
      s"hamming distances: ${joined.toSeq}")
  }
}

package graft

/** Semantic invariants for the round-7 Linkage block (sorted-neighborhood
  * blocking, containment, RAKE, bootstrap CI) — independent driver-side
  * re-derivations at sf0.001, complementing the SQL-parity oracle gate.
  */
class LinkageSpec extends SparkSuite {

  test("sorted-neighborhood pairs match a driver-side window scan") {
    import org.apache.spark.sql.functions.col
    val c = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_name"), col("c_custkey"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = c.groupBy(_._1).flatMap { case (seg, rows) =>
      val sorted = rows.sortBy(_._2)
      for {
        i <- sorted.indices
        k <- 1 to 3
        if i + k < sorted.length
        if lev(sorted(i)._2, sorted(i + k)._2) <= 2
      } yield (seg, sorted(i)._3, sorted(i + k)._3,
        lev(sorted(i)._2, sorted(i + k)._2).toLong)
    }.toSet
    val got = q("q_sorted_neighborhood").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("containment bounds Jaccard from above and respects its threshold") {
    val cont = q("q_containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(cont.nonEmpty)
    cont.foreach { case ((a, b), (inter, na, nb, c)) =>
      assert(a < b)
      assert(c >= 0.8 && c <= 1.0 + 1e-12)
      assert(inter <= math.min(na, nb))
      // containment >= jaccard always
      val jac = inter.toDouble / (na + nb - inter)
      assert(c >= jac - 1e-12)
    }
    // every exact near-dup pair (jac >= 0.5 whose containment >= 0.8)
    // must appear here — the ngram pipeline and this one share candidates
    val ngram = q("q_dedup_ngram").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3))))
    ngram.foreach { case ((a, b), (inter, _)) =>
      val key = (a, b)
      if (cont.contains(key)) assert(cont(key)._1 == inter,
        s"pair $key: intersection differs between pipelines")
    }
  }

  test("RAKE keywords exclude stopwords and carry positive scores") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
    val stops = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(5)
      .collect().map(_.getString(0)).toSet
    val rows = q("q_rake_keywords").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.length >= 1 && words.length <= 3)
      words.foreach(w => assert(!stops.contains(w),
        s"stopword '$w' inside phrase '${r.getString(0)}'"))
      assert(r.getLong(1) >= 1)
      assert(r.getDouble(2) > 0.0)
    }
    // descending score order with phrase tiebreak
    rows.sliding(2).foreach { p =>
      if (p.length == 2)
        assert(p(0).getDouble(2) > p(1).getDouble(2) ||
          (p(0).getDouble(2) == p(1).getDouble(2) &&
            p(0).getString(0) < p(1).getString(0)))
    }
  }

  test("bootstrap CI brackets the point estimate") {
    val rows = q("q_bootstrap_ci").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (mean, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(lo <= hi, s"${r.getString(0)}: lo > hi")
      assert(lo <= mean && mean <= hi,
        s"${r.getString(0)}: mean outside CI (pathological resample)")
      // the interval must be informative: nonzero but narrow relative
      // to the mean at this n (~6k rows per flag)
      assert(hi - lo > 0.0 && hi - lo < mean * 0.25)
    }
  }
}

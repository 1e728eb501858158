package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-8 Training block (negative
  * sampling, hard negatives, ANOVA, CDC delete-merge, norm audit),
  * at sf0.001.
  */
class TrainingSpec extends SparkSuite {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("negative sampling: ids in range, reproducible from the hash, " +
    "and never a known positive pair") {
    val rows = q("q_negative_sample").collect()
    val ids = Tables.table(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val (i0, i1) = (ids.min, ids.max)
    assert(rows.forall(r => r.getLong(2) >= i0 && r.getLong(2) <= i1))
    assert(rows.forall(r => r.getLong(2) != r.getLong(0)))
    // hash reproduction for every row of one anchor
    val one = rows.filter(_.getLong(0) == ids.min)
    one.foreach { r =>
      val expect = i0 + java.lang.Long.parseLong(
        md5hex(s"neg${r.getLong(0)}-${r.getLong(1)}").take(14), 16) %
        (i1 - i0 + 1)
      assert(r.getLong(2) == expect)
    }
    // no sampled pair may be a near-dup positive
    val pos = q("q_dedup_ngram").select("a_id", "b_id").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    assert(rows.forall(r => !pos.contains((r.getLong(0), r.getLong(2)))))
  }

  test("hard negatives: labels always differ from the probe's and " +
    "ranks order by cosine") {
    val rows = q("q_hard_negative").collect()
    val labels = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(labels(r.getLong(1)) == r.getLong(2))
      assert(labels(r.getLong(0)) != r.getLong(2), "label must differ")
      assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getLong(4)).map(_.getDouble(3)).toSeq
      assert(byRank == byRank.sorted.reverse, "cos nonincreasing in rank")
      assert(rs.map(_.getLong(4)).toSet == (1L to rs.length).toSet)
    }
  }

  test("ANOVA F: moments match an exact driver recomputation") {
    val r = q("q_anova_f").collect().head
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), BigDecimal(x.getDouble(1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val n = ev.length.toLong
    assert(r.getLong(0) == n && r.getLong(1) == 5L)
    def s(t: String) = ev.filter(_._1 == t).map(_._2).sum.toDouble
    def qq(t: String) = ev.filter(_._1 == t).map(x => x._2 * x._2)
      .sum.toDouble
    def cnt(t: String) = ev.count(_._1 == t).toDouble
    val gTerm = types.map(t => s(t) * s(t) / cnt(t)).reduce(_ + _)
    val sTot = types.map(s).reduce(_ + _)
    val ssb = gTerm - sTot * sTot / n
    val ssw = types.map(qq).reduce(_ + _) - gTerm
    assert(math.abs(r.getDouble(2) - ssb) < 1e-6 * math.abs(ssb).max(1))
    assert(math.abs(r.getDouble(3) - ssw) < 1e-6 * math.abs(ssw).max(1))
    assert(r.getDouble(4) > 0)
  }

  test("merge with deletes: tombstoned keys vanish, updates reprice, " +
    "population reconciles") {
    val rows = q("q_merge_delete").collect()
    val base = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byChange = rows.groupBy(_.getString(2))
    // no deleted key survives (inserts live at key+1e7, out of range)
    assert(rows.filter(_.getLong(0) < 10000000L)
      .forall(_.getLong(0) % 13 != 0))
    assert(byChange("kept").forall(r =>
      base(r.getLong(0)) == r.getDouble(1)))
    assert(byChange("updated").forall(r =>
      math.abs(base(r.getLong(0)) * 1.1 - r.getDouble(1)) < 1e-9))
    val nDel = base.keys.count(_ % 13 == 0)
    val nUpd = base.keys.count(k => k % 13 != 0 && k % 10 == 0)
    val nIns = base.keys.count(_ % 97 == 0)
    assert(byChange("updated").length == nUpd)
    assert(byChange.get("inserted").map(_.length).getOrElse(0) == nIns)
    assert(byChange("kept").length == base.size - nDel - nUpd)
  }

  test("embedding norm audit: octaves bound their members and cover " +
    "the corpus") {
    val rows = q("q_embed_norm").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val (oct, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(mn <= mx)
      if (oct > 0) {
        assert(mn >= (1L << oct) && mx < (1L << (oct + 1)),
          s"octave $oct bounds")
      }
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-8 Auditing block (grouping_id
  * cube, t-closeness, per-class F1, degree distribution, clustering
  * depth) and the stateful streaming EWMA, at sf0.001.
  */
class AuditingSpec extends SparkSuite {

  test("grouping_id: strata reconcile to the same grand total") {
    val rows = q("q_grouping_id").collect()
    val total = Tables.table(spark, sf, "orders").count()
    // each gid stratum partitions the same orders relation
    (0L to 3L).foreach { gid =>
      val n = rows.filter(_.getLong(2) == gid).map(_.getLong(3)).sum
      assert(n == total, s"gid $gid covers all rows")
    }
    // gid=3 is the single grand-total row with both keys nulled
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1 && grand.head.isNullAt(0) &&
      grand.head.isNullAt(1))
    // gid bit semantics: gid=1 nulls the LAST cube column only
    assert(rows.filter(_.getLong(2) == 1L)
      .forall(r => !r.isNullAt(0) && r.isNullAt(1)))
    assert(rows.filter(_.getLong(2) == 2L)
      .forall(r => r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("t-closeness: EMD matches a driver recomputation and is in " +
    "[0,1]") {
    val rows = q("q_tcloseness").collect()
    val cust = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bins = cust.map(_._2).distinct.sorted
    val m = bins.length
    val nn = cust.length.toLong
    rows.foreach { r =>
      val seg = r.getString(0)
      val mine = cust.filter(_._1 == seg)
      assert(r.getLong(1) == mine.length.toLong)
      val ns = mine.length.toLong
      var cums = 0L; var cumg = 0L; var ss = BigInt(0)
      bins.foreach { b =>
        cums += mine.count(_._2 == b)
        cumg += cust.count(_._2 == b)
        ss += (BigInt(cums) * nn - BigInt(cumg) * ns).abs
      }
      val expect = ss.toDouble / (ns.toDouble * nn.toDouble * (m - 1))
      assert(math.abs(r.getDouble(2) - expect) < 1e-12, s"seg $seg")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("per-class F1: supports cover the corpus and metrics match " +
    "their integer formulas") {
    val rows = q("q_class_f1").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(4)).sum == total)
    rows.foreach { r =>
      val (tp, fp, fn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(math.abs(r.getDouble(5) - tp.toDouble / (tp + fp)) == 0.0)
      assert(math.abs(r.getDouble(6) - tp.toDouble / (tp + fn)) == 0.0)
      assert(math.abs(r.getDouble(7) -
        2.0 * tp / (2 * tp + fp + fn)) == 0.0)
    }
  }

  test("degree distribution: count-of-counts covers every source node") {
    val rows = q("q_degree_dist").collect()
    val srcs = Tables.table(spark, sf, "documents")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1).sliding(2)
        .filter(_.length == 2).map(w => (w(0), w(1))))
      .distinct
    val degrees = srcs.groupBy(_._1).view.mapValues(_.length).values
    assert(rows.map(_.getLong(1)).sum == degrees.size.toLong)
    val hist = degrees.groupBy(identity).view.mapValues(_.size).toMap
    rows.foreach { r =>
      assert(hist(r.getLong(0).toInt) == r.getLong(1).toInt)
    }
  }

  test("clustering depth: the sorted layout never overlaps more than " +
    "the ingestion layout") {
    val rows = q("q_cluster_depth").collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(rows.keySet == Set("ingest", "sorted"))
    assert(rows("sorted") <= rows("ingest"),
      "value-clustering must not worsen zone-map overlap")
  }

  test("streaming EWMA equals the batch window query bit-for-bit") {
    val streamed = q("q_streaming_ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    val batch = q("q_ewma_smooth").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}

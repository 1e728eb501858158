package graft

/** Semantic invariants for the round-8 EffectSizes block (MCC, kappa,
  * Cohen's d, ALS step, IPS, Lorenz deciles) at sf0.001.
  */
class EffectSizesSpec extends SparkSuite {

  test("MCC is bounded and consistent with the confusion cells") {
    val r = q("q_mcc").collect().head
    val (tp, fp, fn, tn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn"))
    val mcc = r.getAs[Double]("mcc")
    assert(mcc >= -1.0 - 1e-12 && mcc <= 1.0 + 1e-12)
    val want = (tp.toDouble * tn - fp.toDouble * fn) /
      math.sqrt((tp + fp).toDouble * (tp + fn) * (tn + fp) * (tn + fn))
    assert(mcc == want)
    // the same cells as q_confusion
    val c = q("q_confusion").collect().head
    assert(tp == c.getAs[Long]("tp") && tn == c.getAs[Long]("tn"))
  }

  test("kappa: perfect self-agreement gives kappa consistency") {
    val r = q("q_cohens_kappa").collect().head
    val kappa = r.getAs[Double]("kappa")
    assert(kappa >= -1.0 - 1e-12 && kappa <= 1.0 + 1e-12)
    val n = r.getAs[Long]("n")
    val agree = r.getAs[Long]("agree")
    assert(agree <= n && agree >= 0)
  }

  test("Cohen's d equals the driver-side pooled-sd formula") {
    import org.apache.spark.sql.functions._
    val vals = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value"), 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val a = vals.filter(_._1 == "click").map(_._2.toDouble)
    val b = vals.filter(_._1 == "view").map(_._2.toDouble)
    def ss(x: Array[Double]) = {
      val m = x.sum / x.length
      x.map(v => (v - m) * (v - m)).sum
    }
    val sp = math.sqrt((ss(a) + ss(b)) / (a.length + b.length - 2))
    val want = (a.sum / a.length - b.sum / b.length) / sp
    val got = q("q_cohens_d").collect().head.getAs[Double]("cohens_d")
    assert(math.abs(got - want) < 1e-9, s"$got vs $want")
  }

  test("ALS half-step shrinks the factor residual") {
    import org.apache.spark.sql.functions._
    val rows = q("q_als_step").collect()
    assert(rows.length == 5)
    // v1 must preserve the ordering structure of the count totals at
    // this uniform data: all positive, and finite
    rows.foreach { r =>
      assert(r.getAs[Long]("v0") > 0)
      val v1 = r.getAs[Double]("v1")
      assert(v1 > 0.0 && v1.isFinite)
    }
  }

  test("IPS value is the mean of the two arm means") {
    val r = q("q_ips_eval").collect().head
    val ips = r.getAs[Double]("ips_value")
    val mc = r.getAs[Double]("mean_r_click")
    val mv = r.getAs[Double]("mean_r_view")
    assert(ips == 0.5 * (mc + mv))
    assert(mc >= 0.0 && mc <= 1.0 && mv >= 0.0 && mv <= 1.0)
  }

  test("Lorenz curve is convex-ish: below the diagonal and monotone") {
    val rows = q("q_lorenz_deciles").collect()
    assert(rows.length == 10)
    var prev = 0.0
    rows.foreach { r =>
      val pop = r.getAs[Double]("pop_share")
      val sp = r.getAs[Double]("spend_share")
      // spend share can never exceed population share (sorted ascending)
      assert(sp <= pop + 1e-12, s"decile ${r.getAs[Long]("decile")}")
      assert(sp >= prev - 1e-12)
      prev = sp
    }
    assert(math.abs(rows.last.getAs[Double]("spend_share") - 1.0) < 1e-12)
  }
}

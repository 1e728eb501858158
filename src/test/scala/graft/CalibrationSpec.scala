package graft

/** Semantic invariants for the round-8 Calibration block (isotonic
  * fit, proportion z-test, correlation pruning) at sf0.001.
  */
class CalibrationSpec extends SparkSuite {

  test("isotonic fit is nondecreasing and equals a driver-side PAVA") {
    val rows = q("q_isotonic_fit").collect()
      .sortBy(_.getAs[Long]("bin"))
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    iso.sliding(2).foreach {
      case Array(a, b) => assert(a <= b + 1e-12, "monotone")
      case _ =>
    }
    // driver-side pool-adjacent-violators on the same bins
    case class Block(var w: Long, var s: Long)
    val blocks = scala.collection.mutable.ArrayBuffer[Block]()
    rows.foreach { r =>
      blocks += Block(r.getAs[Long]("n"),
        math.round(r.getAs[Double]("raw_rate") * r.getAs[Long]("n")))
      while (blocks.length >= 2 &&
        blocks(blocks.length - 2).s.toDouble /
          blocks(blocks.length - 2).w >=
          blocks.last.s.toDouble / blocks.last.w) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.w += b.w; blocks.last.s += b.s
      }
    }
    val pava = blocks.flatMap(b =>
      Seq.fill(b.w.toInt)(b.s.toDouble / b.w)).toArray
    // expand per-bin (weights are bin sizes, so walk cumulative)
    var idx = 0
    rows.zip(rows.indices).foreach { case (r, i) =>
      val fit = pava(idx)
      idx += r.getAs[Long]("n").toInt
      assert(math.abs(r.getAs[Double]("iso_rate") - fit) < 1e-9,
        s"bin $i: minimax ${r.getAs[Double]("iso_rate")} vs PAVA $fit")
    }
  }

  test("proportion z-test agrees in sign with the rate difference") {
    val r = q("q_prop_ztest").collect().head
    val diff = r.getAs[Double]("diff")
    val z = r.getAs[Double]("z")
    assert(math.signum(z) == math.signum(diff))
    assert(r.getAs[Double]("p1") >= 0 && r.getAs[Double]("p1") <= 1)
    assert(r.getAs[Double]("p2") >= 0 && r.getAs[Double]("p2") <= 1)
  }

  test("correlation pruning: witnesses are earlier dims above threshold") {
    val rows = q("q_corr_prune").collect()
    assert(rows.length == 64)
    val nDropped = rows.count(_.getAs[Long]("dropped") == 1L)
    assert(nDropped > 0, "p90 threshold must drop some dims")
    rows.filter(_.getAs[Long]("dropped") == 1L).foreach { r =>
      assert(r.getAs[Long]("witness_dim") < r.getAs[Long]("dim"))
      assert(r.getAs[Double]("witness_corr") > 0.0)
    }
    rows.filter(_.getAs[Long]("dropped") == 0L).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("witness_dim")))
    }
  }
}

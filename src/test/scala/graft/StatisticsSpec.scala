package graft

/** Semantic invariants for the round-7 Statistics block (Kaplan-Meier,
  * seasonal decomposition, silhouette) at sf0.001 — driver-side exact
  * re-derivations alongside the SQL-parity oracle gate.
  */
class StatisticsSpec extends SparkSuite {

  test("Kaplan-Meier survival equals a driver-side fold") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val maxTs = ev.map(_._2.getTime).max
    val dayMs = 86400000L
    def toDay(t: Long): Long = Math.floorDiv(t, dayMs)
    val spans = ev.groupBy(_._1).map { case (_, rows) =>
      val first = rows.minBy(r => (r._2.getTime, r._3))
      val t0 = rows.map(_._2.getTime).min
      val t1 = rows.map(_._2.getTime).max
      (first._4, toDay(t1) - toDay(t0),
        if (t1 < maxTs - 7 * dayMs) 1L else 0L)
    }.toSeq
    val want = spans.groupBy(_._1).map { case (cohort, ss) =>
      val grid = ss.groupBy(_._2).map { case (dur, g) =>
        (dur, g.count(_._3 == 1L).toLong, g.count(_._3 == 0L).toLong)
      }.toSeq.sortBy(_._1)
      var s = 1.0; var n = ss.length.toDouble; var med = -1L
      grid.foreach { case (dur, d, c) =>
        s = s * (1.0 - d.toDouble / n)
        if (med < 0 && s <= 0.5) med = dur
        n -= (d + c).toDouble
      }
      cohort -> ((ss.length.toLong, ss.count(_._3 == 1L).toLong, s, med))
    }
    val got = q("q_survival_km").collect().map(r =>
      r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got == want)
  }

  test("seasonal indices are bounded and cover ISO weekdays") {
    val rows = q("q_seasonal_decompose").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 7, "dow out of ISO range")
      assert(r.getLong(2) >= 1)
      assert(!r.getDouble(3).isNaN)
    }
    // detrended deviations roughly cancel across the week per type:
    // the weighted sum of seasonal indices is near zero relative to
    // the series magnitude
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      val weighted = rs.map(r => r.getDouble(3) * r.getLong(2)).sum
      val mass = rs.map(r => math.abs(r.getDouble(3)) * r.getLong(2)).sum
      if (mass > 0)
        assert(math.abs(weighted) <= mass,
          s"$et: seasonal indices do not partially cancel")
    }
  }

  test("silhouette equals a driver-side quantized-distance derivation") {
    import org.apache.spark.sql.functions.col
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1048576.0).toLong).toArray)
    val cents = vecs.filter(_._1 < 16)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val per = vecs.map { case (id, v) =>
      val nn = dot(v, v)
      val ds = cents.map { case (cid, cv) =>
        (nn + dot(cv, cv) - 2 * dot(v, cv), cid)
      }.sortBy(identity)
      val (a2, bucket) = ds(0)
      val b2 = ds(1)._1
      val s = (b2 - a2).toDouble / math.max(a2, b2).toDouble
      // round half AWAY FROM ZERO, matching both engines' round()
      val sq = if (s >= 0) math.round(s * 10000)
        else -math.round(-s * 10000)
      (bucket, sq)
    }
    val want = per.groupBy(_._1).map { case (b, ss) =>
      b -> ((ss.length.toLong,
        ss.map(_._2).sum.toDouble / (ss.length * 10000).toDouble))
    }
    val got = q("q_silhouette").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (b, (n, m)) =>
      assert(n == want(b)._1, s"bucket $b count")
      assert(m == want(b)._2, s"bucket $b mean")
      assert(m >= -1.0 && m <= 1.0)
    }
  }
}

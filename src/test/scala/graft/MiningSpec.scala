package graft

/** Semantic invariants for the round-7 Mining block (winnowing, bounded
  * k-core, Holt smoothing) — exact driver-side re-derivations at sf0.001.
  */
class MiningSpec extends SparkSuite {

  test("winnowing fingerprints equal a driver-side window-minimum scan") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val tk = text.split(" ")
      val grams =
        if (tk.length < 3) Array.empty[String]
        else (0 to tk.length - 3).map(i =>
          s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}").toArray
      (0 to grams.length - 4).map(i =>
        (id, grams.slice(i, i + 4).min))
    }.groupBy(identity).map { case ((id, fp), hits) =>
      (id, fp) -> hits.length.toLong
    }
    val got = q("q_winnow").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("bounded k-core equals three driver-side prune rounds") {
    import org.apache.spark.sql.functions.col
    val baskets = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val pairCount = scala.collection.mutable.Map[(Long, Long), Int]()
    baskets.foreach { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        pairCount((ids(i), ids(j))) =
          pairCount.getOrElse((ids(i), ids(j)), 0) + 1
    }
    var edges = pairCount.filter(_._2 >= 2).keys
      .flatMap(p => Seq(p, p.swap)).toSet
    for (_ <- 1 to 3) {
      val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size }
      val keep = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val want = edges.groupBy(_._1)
      .map { case (u, es) => u -> es.size.toLong }
    val got = q("q_kcore_prune").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("frequent 3-itemsets equal an unpruned driver-side count") {
    import org.apache.spark.sql.functions.col
    val baskets = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted.toIndexedSeq)
    val cnt = scala.collection.mutable.Map[(Long, Long, Long), Long]()
    baskets.foreach { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length;
           k <- j + 1 until ids.length) {
        val key = (ids(i), ids(j), ids(k))
        cnt(key) = cnt.getOrElse(key, 0L) + 1
      }
    }
    // the a-priori semi-joins must be result-invisible: the pruned
    // Spark pipeline equals the plain support>=2 count
    val want = cnt.filter(_._2 >= 2).toMap
    val got = q("q_itemsets3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("bounded BFS reach counts equal a driver-side expansion") {
    import org.apache.spark.sql.functions.col
    val baskets = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val pairCount = scala.collection.mutable.Map[(Long, Long), Int]()
    baskets.foreach { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        pairCount((ids(i), ids(j))) =
          pairCount.getOrElse((ids(i), ids(j)), 0) + 1
    }
    val adj = pairCount.filter(_._2 >= 2).keys
      .flatMap(p => Seq(p, p.swap)).toSeq
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val seeds = adj.keySet.filter(_ < 100)
    val want = seeds.map { s0 =>
      var reach = Set(s0)
      val ns = (1 to 3).map { _ =>
        reach = reach ++ reach.flatMap(n => adj.getOrElse(n, Set.empty))
        (reach.size - 1).toLong
      }
      s0 -> ((ns(0), ns(1), ns(2)))
    }.toMap
    val got = q("q_graph_bfs").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    // monotone expansion
    got.values.foreach { case (a, b, c) => assert(a <= b && b <= c) }
  }

  test("Holt smoothing equals a driver-side sequential fold") {
    import org.apache.spark.sql.functions._
    import graft.Det.dec
    val daily = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(dec(col("value"))).cast("double").as("y"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val want = daily.groupBy(_._1).map { case (et, rows) =>
      val ys = rows.sortBy(_._2.getTime).map(_._3)
      var l = ys.head; var b = 0.0
      ys.tail.foreach { y =>
        val lNew = (y + (l + b)) * 0.5
        b = ((lNew - l) + b) * 0.5
        l = lNew
      }
      et -> ((ys.length.toLong, l, b, l + b))
    }
    val got = q("q_holt_linear").collect().map(r =>
      r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got == want)
  }

  test("weighted shortest path equals a driver-side 3-round relaxation") {
    import org.apache.spark.sql.functions.col
    // rebuild the weighted co-purchase graph exactly as the query does
    val baskets = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val pairCount = scala.collection.mutable.Map
      .empty[(Long, Long), Long].withDefaultValue(0L)
    baskets.foreach { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.length)
        pairCount((ids(i), ids(j))) += 1L
    }
    val edges = pairCount.toSeq.collect {
      case ((a, b), c) if c >= 2 => Seq((a, b, 1000000L / c),
        (b, a, 1000000L / c))
    }.flatten
    val adj = edges.groupBy(_._1)
    var dist: Map[Long, Long] = edges.map(_._1).distinct
      .filter(_ < 100).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Seq.empty).map { case (_, v, w) => v -> (du + w) }
      } ++ dist.toSeq
      dist = relaxed.groupBy(_._1).map { case (n, ds) =>
        n -> ds.map(_._2).min
      }
    }
    val want = dist.toSeq.sortBy(t => (t._2, t._1)).take(20)
    val got = q("q_graph_wpath").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .map { case (n, d) => (n, d) }
    assert(got.map(t => (t._2, t._1)).sorted ==
      want.map(t => (t._2, t._1)).sorted)
  }
}

package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structure-mining operators (round 7, fourth block): winnowing document
  * fingerprints, bounded-pass k-core graph pruning, and Holt linear-trend
  * smoothing. All three carry full DuckDB oracles.
  *
  * Determinism: winnowing selects window MINIMA under plain string
  * ordering (no hash function to disagree on); k-core is integer degree
  * arithmetic; Holt's recursion uses alpha = beta = 1/2, so every
  * smoothing step is an IEEE-exact halving applied in the same sequential
  * order on both engines (a fold over the day-ordered series).
  */
object Mining extends QueryModule {

  /** Positional (non-distinct) 3-token shingles — winnowing needs every
    * occurrence, unlike the dedup pipelines' distinct sets.
    */
  private def posShingles = let(split(col("text"), " ")) { tk =>
    when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-order sorted distinct part lists — the basket relation the
    * pair/triple/graph miners below all start from.
    */
  private def basketPostings(s: SparkSession, d: String): DataFrame =
    // bucketed scan (r18): HashPartitioning(l_orderkey) satisfies the
    // groupBy's distribution, so the basket aggregate needs NO exchange
    // — and the downstream C(k,2)/C(k,3) pair emission runs at the
    // bucket width instead of the 1-3 partitions AQE's bytes-based
    // coalescing gave the old exchange.
    s.table(Advanced.bucketize(s, d, "lineitem", "l_orderkey"))
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ids"))

  /** Basket pair counts (a < b) — shared by the k-core edge builder and
    * the a-priori frequent-pair stage.
    */
  private def basketPairs(s: SparkSession, d: String,
      postings: DataFrame): DataFrame =
    postings
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a"), col("i"), posexplode(col("ids")).as(Seq("j", "b")))
      .filter(col("i") < col("j"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))

  /** Symmetric co-purchase edge relation (basket pairs with co-count
    * >= 2), checkpointed once — the iterative consumers (k-core rounds,
    * BFS frontiers) each re-read it, and the pair generation is the
    * expensive part.
    */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = basketPairs(s, d, basketPostings(s, d))
      .filter(col("cab") >= 2)
    pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      // kept: the loop rounds re-read it; q_graph_bfs 0.97 -> 2.17 s without
      .localCheckpoint()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- preferential-attachment link prediction (round 15): among
      // the top-50-degree customers of the customer-part purchase
      // graph, the highest degree-product pairs with a `linked` flag
      // for whether they already share a part — Barabási's "rich get
      // richer" score, the third classic next to common-neighbors and
      // resource-allocation (which only rank ALREADY-overlapping
      // pairs; PA is the one that proposes brand-new edges; the
      // customer graph, not the supplier one — the supplier head is
      // fully adjacent on this corpus).
      // The candidate universe is deliberately the top-degree head: a
      // global non-edge ranking is O(V²) at any scale, while the PA
      // score is monotone in both degrees, so every global top-20
      // non-edge among pairs inside the head IS in the head's 1,225
      // bounded candidate grid (a broadcast-NLJ over two 50-row
      // relations, the documented bounded-grid pattern). Adjacency for
      // the head re-derives from the head-filtered edge slice; all
      // integer. Tie at the top-50 cut is broken (deg desc, ck) total
      // order. ---
      "q_graph_pref_attach" -> ((s, d) => {
        val e = table(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .join(table(s, d, "orders").select(
            col("o_orderkey").as("ok"), col("o_custkey").as("ck")), "ok")
          .select("ck", "pk").distinct()
          // kept: 0.98 -> 1.09 s without this and top's checkpoint
          .localCheckpoint()
        val top = e.groupBy("ck").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("ck")).limit(50)
        val cand = top.select(col("ck").as("sa"), col("c").as("da"))
          .crossJoin(broadcast(
            top.select(col("ck").as("sb"), col("c").as("db"))))
          .filter(col("sa") < col("sb"))
        val eTop = e.join(broadcast(top.select("ck")), "ck")
        val adj = eTop.select(col("ck").as("sa"), col("pk"))
          .join(eTop.select(col("ck").as("sb"), col("pk")), "pk")
          .filter(col("sa") < col("sb"))
          .select(col("sa"), col("sb"), lit(1L).as("lk"))
          .distinct()
        // adjacency is a FLAG, not a filter: a dense head (every pair
        // already linked — the sf0.001 corpus) must still produce the
        // ranking, with `linked` telling the consumer which scores are
        // predictions and which are confirmations. Unlinked pairs rank
        // first at equal score.
        cand.join(adj, Seq("sa", "sb"), "left")
          .select(col("sa"), col("sb"), col("da"), col("db"),
            (col("da") * col("db")).as("score"),
            coalesce(col("lk"), lit(0L)).as("linked"))
          .orderBy(col("score").desc, col("linked"), col("sa"),
            col("sb"))
          .limit(20)
      }),

      // --- winnowing fingerprint selection: the set of per-window
      // minima over w=4 consecutive shingles — the plagiarism/near-dup
      // fingerprinting scheme that guarantees any match of length
      // >= w+2 tokens shares a fingerprint, while storing only ~2/(w+1)
      // of the grams. The minimum is under plain lexicographic string
      // order (winnowing needs ANY total order; a hash order would
      // demand a cross-engine hash). One doc-partitioned window over
      // the positional gram stream (rides the corpus's natural
      // partitioning), then a per-doc distinct reduce; output is the
      // fingerprint relation a scaled pipeline would join on. ---
      "q_winnow" -> ((s, d) => {
        val grams = table(s, d, "documents")
          .select(col("doc_id"), posShingles.as("gs"))
          .select(col("doc_id"), size(col("gs")).as("n"),
            posexplode(col("gs")).as(Seq("pos", "g")))
        val wf = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.currentRow, 3)
        grams
          .withColumn("winmin", min("g").over(wf))
          .filter(col("pos") <= col("n") - 4)
          .groupBy(col("doc_id"), col("winmin").as("fp"))
          .agg(count(lit(1)).as("n_windows"))
          .orderBy("doc_id", "fp")
      }),

      // --- bounded-pass k-core refinement (k=3, 3 prune rounds) on the
      // co-purchase graph: iteratively drop nodes of degree < 3 and the
      // edges they carry — the standard community-sieve preprocessing
      // before expensive graph algorithms. Exactly 3 synchronized
      // rounds, NOT loop-to-fixpoint: each round is one degree
      // aggregate + one semi-join per edge side, all on the edge
      // relation's own key partitioning, and a bounded pass count is
      // how the sieve actually ships at fleet scale (convergence loops
      // are the driver's job — the q_kmeans_step/q_pagerank_iter
      // discipline; the unrolled rounds also give the oracle an exact
      // CTE twin). The edge relation is checkpointed once; rounds
      // shrink it monotonically. ---
      "q_kcore_prune" -> ((s, d) => {
        val e0 = copurchaseEdges(s, d)
        // checkpoint each round's survivors: round r+1 reads its input
        // TWICE (degree aggregate + the semi-join probe), and exchange
        // reuse across the two consumers is not guaranteed — without
        // the checkpoint the prune lineage re-executes 2^r times
        val e3 = (1 to 3).foldLeft(e0) { (e, _) =>
          val keep = e.groupBy("u").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3)
            .select(col("u").as("kn"))
          e.join(keep, col("u") === col("kn"), "left_semi")
            .join(keep.withColumnRenamed("kn", "kv"),
              col("v") === col("kv"), "left_semi")
            .localCheckpoint()
        }
        e3.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("degree"))
          .orderBy("node")
      }),

      // --- frequent 3-itemsets (a-priori level 3, support >= 2): the
      // step beyond q_basket_pairs/q_assoc_rules' pair mining. Triples
      // stream map-side from per-basket 3-combinations (bounded by
      // C(|basket|,3), never a 3-way corpus self-join), and the
      // A-PRIORI PRUNE runs BEFORE the count shuffle: candidate
      // triples semi-join (broadcast) against the frequent-pair set on
      // two of their three sub-pairs, so infrequent candidates never
      // reach the exchange — result-invisible (support(abc) <=
      // support(ab)), pure shuffle-volume reduction, the same trade
      // every banding trick in this suite makes. The frequent-pair
      // relation is pruned-small by definition (that is the a-priori
      // property), so the broadcast is bounded at any corpus scale. ---
      "q_itemsets3" -> ((s, d) => {
        // both readers reuse this exchange
        val postings = basketPostings(s, d).repartition(col("ok"))
        val fpairs = basketPairs(s, d, postings)
          .filter(col("cab") >= 2).select(col("a"), col("b"))
        val triples = postings
          .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
          .select(col("a"), col("i"),
            posexplode(col("ids")).as(Seq("j", "b")), col("ids"))
          .filter(col("i") < col("j"))
          .select(col("a"), col("b"), col("j"),
            posexplode(col("ids")).as(Seq("k", "c")))
          .filter(col("j") < col("k"))
        val fab = fpairs.select(col("a").as("fa"), col("b").as("fb"))
        val fbc = fpairs.select(col("a").as("ga"), col("b").as("gb"))
        triples
          .join(broadcast(fab),
            col("a") === col("fa") && col("b") === col("fb"), "left_semi")
          .join(broadcast(fbc),
            col("b") === col("ga") && col("c") === col("gb"), "left_semi")
          .groupBy("a", "b", "c")
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .orderBy("a", "b", "c")
      }),

      // --- multi-source bounded BFS (3 hops) on the co-purchase graph:
      // per-seed reachable-set growth — the neighborhood-expansion
      // readout (how fast does the graph mix?) and the bounded-pass
      // sibling of q_kcore_prune. Each hop is ONE join of the reach
      // relation against the checkpointed edge list + a distinct
      // reduce, both on the node key; the reach relation is bounded by
      // seeds x nodes by construction (seeds are a fixed slice, so the
      // state is seed-sized, not corpus-squared). Three hops, three
      // counts, one output row per seed. ---
      "q_graph_bfs" -> ((s, d) => {
        val edges = copurchaseEdges(s, d)
        val r0 = edges.filter(col("u") < 100)
          .select(col("u").as("seed")).distinct()
          .select(col("seed"), col("seed").as("node"))
        val reaches = (1 to 3).scanLeft(r0) { (r, _) =>
          r.union(
            r.join(edges, col("node") === col("u"))
              .select(col("seed"), col("v").as("node")))
            .distinct()
            .localCheckpoint()
        }.drop(1)
        val counts = reaches.zipWithIndex.map { case (r, i) =>
          r.groupBy("seed")
            .agg((count(lit(1)) - 1).as(s"n${i + 1}hop"))
        }
        counts.reduce((a, b) => a.join(b, "seed")).orderBy("seed")
      }),

      // --- bounded weighted shortest path (3 rounds of min-plus
      // relaxation): cheapest known route from the seed slice over the
      // co-purchase graph, edge cost inversely proportional to the
      // co-count (1000000 div cab — strong associations are cheap to
      // traverse, all int64). The min-plus twin of q_graph_bfs: where
      // BFS's semiring is (∪, reach), this is (min, +) — each round is
      // ONE frontier⋈edges join plus a min-aggregate on the node key,
      // the distance relation stays node-sized, and the bounded round
      // count (fixpoint loops are the driver's job — the q_kmeans_step
      // discipline) gives the oracle an exact unrolled-CTE twin. Output
      // is the 20 cheapest reachable nodes via TakeOrdered, never a
      // global sort. ---
      "q_graph_wpath" -> ((s, d) => {
        val pairs = basketPairs(s, d, basketPostings(s, d))
          .filter(col("cab") >= 2)
          .withColumn("w", expr("1000000 div cab"))
        val edges = pairs
          .select(col("a").as("u"), col("b").as("v"), col("w"))
          .union(pairs
            .select(col("b").as("u"), col("a").as("v"), col("w")))
          .localCheckpoint()
        val d0 = edges.select(col("u").as("node")).distinct()
          .filter(col("node") < 100)
          .withColumn("dist", lit(0L))
        val relaxed = (1 to 3).foldLeft(d0) { (r, _) =>
          r.join(edges, col("node") === col("u"))
            .select(col("v").as("node"),
              (col("dist") + col("w")).as("dist"))
            .unionByName(r)
            .groupBy("node").agg(min("dist").as("dist"))
            .localCheckpoint()
        }
        relaxed.orderBy("dist", "node").limit(20)
      }),

      // --- Holt linear-trend smoothing (double exponential, alpha =
      // beta = 1/2) of the per-type daily value series: level/trend
      // state folded once through the day-ordered series, emitting the
      // final level, trend and one-step forecast — the capacity-
      // forecast readout q_autocorr's diagnostics feed into. The fold
      // is a higher-order aggregate() over the per-type collected
      // series (state = 2 doubles; series are time-sized, thousands of
      // entries at most, NEVER corpus-sized — the same bounded-state
      // argument as q_ewma_smooth); every step halves exactly in IEEE,
      // and the sequential order is the day order on both engines, so
      // the terminal doubles are bit-identical to the oracle's
      // recursive CTE. ---
      "q_holt_linear" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast("double").as("y"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sort_array(collect_list(struct(col("day"), col("y"))))
              .as("series"))
          .select(col("event_type"), col("n_days"),
            aggregate(
              expr("slice(series, 2, size(series) - 1)"),
              struct(element_at(col("series"), 1).getField("y").as("l"),
                lit(0.0).as("b")),
              (acc, x) => struct(
                ((x.getField("y") +
                  (acc.getField("l") + acc.getField("b"))) * 0.5).as("l"),
                ((((x.getField("y") +
                    (acc.getField("l") + acc.getField("b"))) * 0.5 -
                  acc.getField("l")) + acc.getField("b")) * 0.5).as("b")))
              .as("st"))
          .select(col("event_type"), col("n_days"),
            col("st.l").as("level"), col("st.b").as("trend"),
            (col("st.l") + col("st.b")).as("forecast"))
          .orderBy("event_type")
      }),

      // --- one Louvain pass from singleton communities on the
      // near-dup graph: the community-OPTIMIZER step whose objective
      // q_graph_modularity only measures. With singleton init the
      // modularity gain of moving i next to neighbor j reduces to
      // ΔQ = (2m − ki·kj)/(2m²) — so the best move is the
      // LOWEST-DEGREE neighbor and the whole pass is exact integer
      // arithmetic: one degree aggregate, one per-node struct-extremum
      // min over (kj, j), a broadcast edge count. Nodes evaluate
      // against the INITIAL partition (standard synchronous
      // simplification, documented). O(edges) + O(nodes), no
      // iteration here — the fixpoint loop is q_dedup_cluster's
      // localCheckpoint discipline. ---
      "q_louvain_step" -> ((s, d) => {
        val pairs = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"))
        // kept: 0.24 -> 0.28 s without, +17 % with a shared repartition
        val ed = pairs.unionByName(pairs.select(col("b_id").as("a_id"),
          col("a_id").as("b_id"))).localCheckpoint()
        val m = pairs.count()
        val deg = ed.groupBy(col("a_id").as("id"))
          .agg(count(lit(1)).as("k"))
        val best = ed
          .join(deg.select(col("id").as("a_id"), col("k").as("ki")),
            "a_id")
          .join(deg.select(col("id").as("b_id"), col("k").as("kj")),
            "b_id")
          .groupBy(col("a_id").as("doc_id"), col("ki"))
          .agg(min(struct(col("kj"), col("b_id"))).as("bb"))
        val moved = lit(2L * m) > col("ki") * col("bb.kj")
        best.select(col("doc_id"), col("ki").as("degree"),
            col("bb.b_id").as("best_nbr"), col("bb.kj").as("nbr_degree"),
            (lit(2L * m) - col("ki") * col("bb.kj")).as("gain_num"),
            moved.as("moved"),
            when(moved, col("bb.b_id")).otherwise(col("doc_id"))
              .as("new_comm"))
          .orderBy("doc_id")
      }))

  override def oracle: Map[String, String] = Map(

    "q_graph_pref_attach" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |           FROM lineitem
        |           JOIN orders ON l_orderkey = o_orderkey),
        |tp AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM e GROUP BY 1 ORDER BY c DESC, ck LIMIT 50),
        |cand AS (SELECT a.ck AS sa, a.c AS da, b.ck AS sb, b.c AS db
        |         FROM tp a JOIN tp b ON a.ck < b.ck),
        |et AS (SELECT e.ck, e.pk FROM e JOIN tp USING (ck)),
        |adj AS (SELECT DISTINCT x.ck AS sa, y.ck AS sb,
        |          CAST(1 AS BIGINT) AS lk
        |        FROM et x JOIN et y
        |          ON x.pk = y.pk AND x.ck < y.ck)
        |SELECT cand.sa, cand.sb, da, db, da * db AS score,
        |  COALESCE(lk, 0) AS linked
        |FROM cand LEFT JOIN adj
        |  ON adj.sa = cand.sa AND adj.sb = cand.sb
        |ORDER BY score DESC, linked, cand.sa, cand.sb
        |LIMIT 20""".stripMargin,

    "q_winnow" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(tk) >= 3 THEN list_transform(
        |          range(1, len(tk) - 1),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |        ELSE [] END AS gs
        |      FROM d),
        |p AS (SELECT doc_id, len(gs) AS n,
        |        generate_subscripts(gs, 1) AS i, unnest(gs) AS gr
        |      FROM g),
        |w AS (SELECT doc_id, i, n,
        |        MIN(gr) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin
        |      FROM p)
        |SELECT doc_id, winmin AS fp, CAST(COUNT(*) AS BIGINT)
        |  AS n_windows
        |FROM w WHERE i <= n - 3
        |GROUP BY doc_id, winmin ORDER BY doc_id, fp""".stripMargin,

    "q_kcore_prune" ->
      """WITH postings AS (
        |  SELECT l_orderkey AS ok,
        |         list_sort(list_distinct(list(l_partkey))) AS ids
        |  FROM lineitem GROUP BY 1),
        |el AS (SELECT ok, unnest(ids) AS pk FROM postings),
        |pr AS (SELECT x.pk AS a, y.pk AS b
        |       FROM el x JOIN el y ON x.ok = y.ok AND x.pk < y.pk
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e0 AS (SELECT a AS u, b AS v FROM pr
        |       UNION ALL SELECT b, a FROM pr),
        |k1 AS (SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 3),
        |e1 AS (SELECT e0.u, e0.v FROM e0
        |       JOIN k1 x ON e0.u = x.u JOIN k1 y ON e0.v = y.u),
        |k2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3),
        |e2 AS (SELECT e1.u, e1.v FROM e1
        |       JOIN k2 x ON e1.u = x.u JOIN k2 y ON e1.v = y.u),
        |k3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 3),
        |e3 AS (SELECT e2.u, e2.v FROM e2
        |       JOIN k3 x ON e2.u = x.u JOIN k3 y ON e2.v = y.u)
        |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
        |FROM e3 GROUP BY u ORDER BY node""".stripMargin,

    "q_itemsets3" ->
      """WITH p AS (
        |  SELECT l_orderkey AS ok,
        |         list_sort(list_distinct(list(l_partkey))) AS ids
        |  FROM lineitem GROUP BY 1),
        |el AS (SELECT ok, unnest(ids) AS pk FROM p),
        |tr AS (SELECT x.pk AS a, y.pk AS b, z.pk AS c,
        |         CAST(COUNT(*) AS BIGINT) AS support
        |       FROM el x JOIN el y ON x.ok = y.ok AND x.pk < y.pk
        |                 JOIN el z ON y.ok = z.ok AND y.pk < z.pk
        |       GROUP BY 1, 2, 3)
        |SELECT a, b, c, support FROM tr
        |WHERE support >= 2 ORDER BY a, b, c""".stripMargin,

    "q_graph_bfs" ->
      """WITH p AS (
        |  SELECT l_orderkey AS ok,
        |         list_sort(list_distinct(list(l_partkey))) AS ids
        |  FROM lineitem GROUP BY 1),
        |el AS (SELECT ok, unnest(ids) AS pk FROM p),
        |pr AS (SELECT x.pk AS a, y.pk AS b
        |       FROM el x JOIN el y ON x.ok = y.ok AND x.pk < y.pk
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT a AS u, b AS v FROM pr
        |      UNION ALL SELECT b, a FROM pr),
        |r0 AS (SELECT DISTINCT u AS seed, u AS node FROM e
        |       WHERE u < 100),
        |r1 AS (SELECT DISTINCT seed, node FROM (
        |         SELECT seed, node FROM r0
        |         UNION ALL
        |         SELECT r.seed, e.v FROM r0 r JOIN e ON e.u = r.node)),
        |r2 AS (SELECT DISTINCT seed, node FROM (
        |         SELECT seed, node FROM r1
        |         UNION ALL
        |         SELECT r.seed, e.v FROM r1 r JOIN e ON e.u = r.node)),
        |r3 AS (SELECT DISTINCT seed, node FROM (
        |         SELECT seed, node FROM r2
        |         UNION ALL
        |         SELECT r.seed, e.v FROM r2 r JOIN e ON e.u = r.node))
        |SELECT c1.seed, n1hop, n2hop, n3hop
        |FROM (SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n1hop
        |      FROM r1 GROUP BY 1) c1
        |JOIN (SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n2hop
        |      FROM r2 GROUP BY 1) c2 ON c1.seed = c2.seed
        |JOIN (SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n3hop
        |      FROM r3 GROUP BY 1) c3 ON c1.seed = c3.seed
        |ORDER BY c1.seed""".stripMargin,

    "q_graph_wpath" ->
      """WITH p AS (
        |  SELECT l_orderkey AS ok,
        |         list_sort(list_distinct(list(l_partkey))) AS ids
        |  FROM lineitem GROUP BY 1),
        |el AS (SELECT ok, unnest(ids) AS pk FROM p),
        |pr AS (SELECT x.pk AS a, y.pk AS b, COUNT(*) AS cab
        |       FROM el x JOIN el y ON x.ok = y.ok AND x.pk < y.pk
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT a AS u, b AS v,
        |        CAST(1000000 // cab AS BIGINT) AS w FROM pr
        |      UNION ALL
        |      SELECT b, a, CAST(1000000 // cab AS BIGINT) FROM pr),
        |d0 AS (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE u < 100),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d0
        |         UNION ALL
        |         SELECT e.v, d0.dist + e.w FROM d0
        |         JOIN e ON e.u = d0.node) GROUP BY 1),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d1
        |         UNION ALL
        |         SELECT e.v, d1.dist + e.w FROM d1
        |         JOIN e ON e.u = d1.node) GROUP BY 1),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d2
        |         UNION ALL
        |         SELECT e.v, d2.dist + e.w FROM d2
        |         JOIN e ON e.u = d2.node) GROUP BY 1)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
        |ORDER BY dist, node LIMIT 20""".stripMargin,

    "q_holt_linear" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y,
        |        row_number() OVER (PARTITION BY event_type ORDER BY day)
        |          AS t
        |      FROM daily),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |      FROM s GROUP BY 1),
        |rec AS (
        |  SELECT event_type, t, y AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM s WHERE t = 1
        |  UNION ALL
        |  SELECT s.event_type, s.t,
        |    (s.y + (rec.l + rec.b)) * 0.5,
        |    (((s.y + (rec.l + rec.b)) * 0.5 - rec.l) + rec.b) * 0.5
        |  FROM rec JOIN s
        |    ON s.event_type = rec.event_type AND s.t = rec.t + 1),
        |fin AS (SELECT event_type, l, b,
        |          row_number() OVER (PARTITION BY event_type
        |            ORDER BY t DESC) AS rk
        |        FROM rec)
        |SELECT n.event_type, n.n_days, fin.l AS level, fin.b AS trend,
        |  fin.l + fin.b AS forecast
        |FROM fin JOIN n ON fin.event_type = n.event_type
        |WHERE rk = 1 ORDER BY n.event_type""".stripMargin,

    "q_louvain_step" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |ed AS (SELECT a_id, b_id FROM p
         |       UNION ALL SELECT b_id, a_id FROM p),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
         |deg AS (SELECT a_id AS id, CAST(COUNT(*) AS BIGINT) AS k
         |        FROM ed GROUP BY 1),
         |cand AS (SELECT ed.a_id AS doc_id, da.k AS ki,
         |           ed.b_id, db.k AS kj,
         |           row_number() OVER (PARTITION BY ed.a_id
         |             ORDER BY db.k, ed.b_id) AS rn
         |         FROM ed
         |         JOIN deg da ON da.id = ed.a_id
         |         JOIN deg db ON db.id = ed.b_id)
         |SELECT doc_id, ki AS degree, b_id AS best_nbr,
         |  kj AS nbr_degree, 2 * m - ki * kj AS gain_num,
         |  2 * m > ki * kj AS moved,
         |  CASE WHEN 2 * m > ki * kj THEN b_id ELSE doc_id END
         |    AS new_comm
         |FROM cand CROSS JOIN mm WHERE rn = 1
         |ORDER BY doc_id""".stripMargin)
}

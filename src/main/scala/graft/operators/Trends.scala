package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Trend / concentration analytics (round 8, sixth block): per-document
  * shingle novelty, the weekday×hour activity heatmap, week-over-week
  * growth, and Herfindahl revenue concentration. All four carry full
  * DuckDB oracles.
  *
  * Determinism: novelty and growth are single divisions of exact
  * integers; calendar keys use the engines' agreeing extractions
  * (dayofweek−1 == extract(dow), date_trunc week starts Monday on
  * both); HHI squares quantized int64 revenues into DECIMAL(38,0).
  */
object Trends extends QueryModule {

  private def toks = split(col("text"), " ")
  private val D38 = DecimalType(38, 0)

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- classic price-index triple (round 15): per ship month,
      // Laspeyres (base-quantity weighted), Paasche (current-quantity
      // weighted) and Fisher (their geometric mean) indices of part
      // unit prices against the corpus's first month — the price-level
      // readout any longitudinal purchasing corpus gets asked for.
      // Unit price per (part, month) is value-weighted and INTEGER:
      // cents(Σ extendedprice) div Σ qty, so every index numerator /
      // denominator is an exact Σ int64·int64 (p ≤ 1e7 cents, q ≤ 1e4
      // per month at bench scale — 2e15 headroom; a fleet-scale corpus
      // recasts the two sums to DECIMAL(38,0), same plan). Base-month
      // slice joins back per part key (AQE broadcasts it at bench
      // scale; at fleet scale it shuffles on pk, co-partitioned with
      // the month aggregate). FP enters only at the three terminal
      // divisions and one IEEE sqrt. O(months) out. ---
      "q_price_index" -> ((s, d) => {
        val li = table(s, d, "lineitem").select(
          col("l_partkey").as("pk"),
          date_trunc("month", col("l_shipdate")).cast("date").as("m"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            .as("epc"),
          expr("CAST(round(l_quantity, 0) AS BIGINT)").as("q"))
        val pm = li.groupBy("pk", "m")
          .agg(sum("epc").as("sep"), sum("q").as("sq"))
          .select(col("pk"), col("m"), expr("sep div sq").as("p"),
            col("sq"))
        val m0 = pm.agg(min("m").as("m0"))
        val base = pm.crossJoin(broadcast(m0))
          .filter(col("m") === col("m0"))
          .select(col("pk"), col("p").as("p0"), col("sq").as("q0"))
        pm.join(base, "pk")
          .groupBy("m")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p") * col("q0")).cast("long").as("lnum"),
            sum(col("p0") * col("q0")).cast("long").as("lden"),
            sum(col("p") * col("sq")).cast("long").as("pnum"),
            sum(col("p0") * col("sq")).cast("long").as("pden"))
          .select(col("m"), col("n_parts"),
            (col("lnum").cast("double") / col("lden").cast("double"))
              .as("laspeyres"),
            (col("pnum").cast("double") / col("pden").cast("double"))
              .as("paasche"),
            sqrt((col("lnum").cast("double") / col("lden").cast("double"))
              * (col("pnum").cast("double") / col("pden").cast("double")))
              .as("fisher"))
          .orderBy("m")
      }),

      // --- interrupted-time-series causal impact (round 13): fit an
      // OLS trend on the PRE-intervention daily counts (days < 15),
      // project it over the post period, and report per-day actual vs
      // counterfactual with the cumulative effect — the
      // CausalImpact-style readout every launch review wants. The
      // whole estimate stays EXACT RATIONAL: slope = numS/den and
      // intercept = numI/(n·den) from integer moments, so
      // predicted·D = numI + n·numS·day and effect·D = actual·D −
      // predicted·D are exact int64 with the COMMON denominator
      // D = n·den — per-day values and the cumulative sum are integer
      // arithmetic until ONE division each at render. O(days) grid;
      // the cum window reads ≤ 30 rows. ---
      "q_causal_impact" -> ((s, d) => {
        val days = table(s, d, "events")
          .groupBy(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).as("x"))
        val pre = days.filter(col("day") < 15)
          .agg(count(lit(1)).as("n"), sum("day").as("sd"),
            sum("x").as("sx"),
            sum(col("day") * col("day")).as("sdd"),
            sum(col("day") * col("x")).as("sdx"))
          .select(col("n"), col("sd"), col("sx"),
            (col("n") * col("sdx") - col("sd") * col("sx")).as("numS"),
            (col("n") * col("sdd") - col("sd") * col("sd")).as("den"))
          .select(col("n"), col("numS"), col("den"),
            (col("sx") * col("den") - col("numS") * col("sd"))
              .as("numI"),
            (col("n") * col("den")).as("dd"))
        val wc = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        days.filter(col("day") >= 15)
          .crossJoin(broadcast(pre))
          .withColumn("predD",
            col("numI") + col("n") * col("numS") * col("day"))
          .withColumn("effD", col("x") * col("dd") - col("predD"))
          .withColumn("cumD", sum("effD").over(wc))
          .select(col("day"), col("x").as("actual"),
            (col("predD").cast("double") / col("dd").cast("double"))
              .as("predicted"),
            (col("effD").cast("double") / col("dd").cast("double"))
              .as("effect"),
            (col("cumD").cast("double") / col("dd").cast("double"))
              .as("cum_effect"))
          .orderBy("day")
      }),

      // --- per-document shingle novelty (the inverse-dedup signal:
      // how much of a doc exists NOWHERE else? low-novelty docs are
      // template noise even when no pair crosses the dup threshold):
      // corpus shingle df joins back into the per-doc-distinct shingle
      // stream; novelty = unique-shingle share, one division. The df
      // relation is shingle-vocabulary-sized; everything else is the
      // shingle scan + one aggregate. ---
      "q_doc_novelty" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextPipeline.shingles(toks).as("sh"))
        // r18 rewrite, result-identical: shingle arrays are per-doc
        // DISTINCT, so a df==1 gram names its only doc (min(doc_id)
        // over one row) and per-doc totals are size(sh) map-side — the
        // old plan shuffled the full exploded stream a SECOND time
        // (join back against df) only to recount what the array length
        // already knows. One corpus-sized shuffle instead of two; the
        // unique-gram rollup is vocabulary- then doc-sized.
        val ex = docs.select(col("doc_id"), explode(col("sh")).as("sg"))
        val uniq = ex.groupBy("sg")
          .agg(count(lit(1)).as("df"), min("doc_id").as("fd"))
          .filter(col("df") === 1)
          .groupBy(col("fd").as("doc_id"))
          .agg(count(lit(1)).as("n_unique"))
        docs.filter(size(col("sh")) > 0)
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
          .join(uniq, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_unique"), lit(0L)).as("n_unique"))
          .withColumn("novelty",
            col("n_unique").cast("double") / col("n_sh"))
          .orderBy("doc_id")
      }),

      // --- marginal-novelty growth curve (round 12): per doc-id
      // decile, how many shingles appear for the FIRST time — the
      // "does the next corpus increment still add new content, or are
      // we re-crawling the same pages" readout that decides whether
      // to keep scaling a source. First occurrence = min(doc_id) per
      // gram (one vocabulary-sized aggregate — the same class as
      // q_doc_novelty's df relation); the decile rollup and its
      // cumulative window run over 10 rows. Dense doc ids (the corpus
      // contract here, as q_negative_sample documents) make the
      // decile a pure id-range band. ---
      "q_ngram_novelty_curve" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), TextPipeline.shingles(toks).as("sh"))
        val firstOcc = docs
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .groupBy("g").agg(min("doc_id").as("fd"))
        val mx = docs.agg(max("doc_id").as("mx"))
        val bydec = firstOcc.crossJoin(broadcast(mx))
          .select(expr("least(9, (fd * 10) div (mx + 1))").as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("n_new_grams"))
        val tot = bydec.agg(sum("n_new_grams").cast("long").as("t"))
        val wd = Window.orderBy("decile")
        bydec
          .withColumn("cum_new",
            sum("n_new_grams").over(wd).cast("long"))
          .crossJoin(broadcast(tot))
          .select(col("decile"), col("n_new_grams"), col("cum_new"),
            (col("cum_new").cast("double") / col("t").cast("double"))
              .as("cum_frac"))
          .orderBy("decile")
      }),

      // --- weekday×hour activity heatmap (the capacity-planning /
      // anomaly-baseline readout): one partial-aggregated pass to
      // O(7×24) cells, global total broadcast back for the share.
      // Calendar keys: Spark's dayofweek() is 1=Sunday, DuckDB's
      // extract(dow) is 0=Sunday — the −1 aligns them exactly. ---
      "q_time_heatmap" -> ((s, d) => {
        val cells = table(s, d, "events")
          .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hr"),
            dec(col("value")).as("v"))
          .groupBy("dow", "hr")
          .agg(count(lit(1)).as("n"), sum("v").cast("double").as("sum_v"))
        val tot = cells.agg(sum("n").as("nn"))
        cells.crossJoin(broadcast(tot))
          .select(col("dow"), col("hr"), col("n"), col("sum_v"),
            (col("n").cast("double") / col("nn")).as("share"))
          .orderBy("dow", "hr")
      }),

      // --- week-over-week growth per event type (the trend line every
      // ops review opens with): weekly counts reduce first (O(weeks ×
      // types) cells), lag() runs per type over the tiny cell relation
      // — never over raw events — and growth is ONE division of exact
      // counts. date_trunc('week') starts Monday on both engines. ---
      "q_wow_growth" -> ((s, d) => {
        val weekly = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("week", col("ts")).as("wk"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("wk")
        weekly
          .withColumn("prev", lag("n", 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("event_type"), fmtTs(col("wk")).as("week"),
            col("n"), col("prev"),
            ((col("n") - col("prev")).cast("double") / col("prev"))
              .as("wow_growth"))
          .orderBy("event_type", "week")
      }),

      // --- class-balanced downsampling (equalize every label to the
      // minority class's size — the imbalance fix applied before any
      // classifier trains): the quota is DATA-DEPENDENT (min class
      // count, a broadcast 1-row aggregate), membership is the
      // md5-rank discipline (reproducible, RNG-free, per-label rank
      // windows). Output is the kept assignment — rerunning yields
      // the identical balanced set, which is what dataset versioning
      // requires. ---
      "q_class_balance" -> ((s, d) => {
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), (col("label") % 4).cast("long").as("y"),
            md5(concat(lit("bal"), col("vec_id").cast("string")))
              .as("mk"))
        val quota = e.groupBy("y").agg(count(lit(1)).as("cn"))
          .agg(min("cn").as("quota"))
        val w = Window.partitionBy("y").orderBy("mk")
        e.withColumn("rk", row_number().over(w).cast("long"))
          .crossJoin(broadcast(quota))
          .filter(col("rk") <= col("quota"))
          .select(col("vec_id"), col("y"), col("rk"))
          .orderBy("y", "rk")
      }),

      // --- per-dimension embedding variance profile (the dead-dims
      // preflight: a dimension with ~zero variance wastes index space
      // and can break normalization — q_embed_norm's per-vector
      // sibling, per-COORDINATE): one posexplode pass to exact
      // fixed-point moments per dimension (int64 at this scale,
      // DECIMAL(38,0) sums for the squares), variance in ONE fixed
      // double tree, dims ranked by it. ---
      // --- monthly return-rate trend (round 9): the share of shipped
      // lines (and of revenue) flagged returned per ship month — the
      // quality/refund trend a retail review reads first. One
      // conditional-aggregate scan to O(months) cells; exact decimal
      // revenue; two terminal divisions per month. ---
      "q_return_rate" -> ((s, d) =>
        table(s, d, "lineitem")
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_lines"),
            sum((col("l_returnflag") === "R").cast("long"))
              .as("n_returned"),
            sum(dec(col("l_extendedprice"))).as("rev"),
            sum(when(col("l_returnflag") === "R",
              dec(col("l_extendedprice"))).otherwise(dec(lit(0))))
              .as("rev_returned"))
          .select(col("month"), col("n_lines"), col("n_returned"),
            (col("n_returned").cast("double") / col("n_lines"))
              .as("line_return_rate"),
            (col("rev_returned").cast("double") /
              col("rev").cast("double")).as("revenue_return_rate"))
          .orderBy("month")),

      // --- per-label embedding centroid drift (round 9): the L2 shift
      // between each label's centroid computed over the two corpus
      // halves — the embedding-space drift audit (a re-embedding run
      // or upstream data change shows up here before any downstream
      // metric moves). Elements quantize to 2^20 fixed point (the
      // Similarity discipline: exact int64 sums, merge-order-free);
      // per-dim mean diffs are identical doubles on both engines and
      // their squares quantize to DECIMAL(18,4) before the 64-dim sum
      // (exact, order-independent); one terminal sqrt per label. ---
      "q_embed_drift" -> ((s, d) => {
        val ex = table(s, d, "embeddings")
          .select(col("label").cast("long").as("label"),
            (col("vec_id") % 2 === 0).cast("int").as("ha"),
            posexplode(Similarity.fixedPoint(col("embedding"))))
          .select(col("label"), col("ha"), col("pos"),
            col("col").as("q"))
        val cells = ex.groupBy("label", "ha", "pos")
          .agg(sum("q").as("sq"), count(lit(1)).as("n"))
        val a = cells.filter(col("ha") === 1)
          .select(col("label"), col("pos"), col("sq").as("sa"),
            col("n").as("na"))
        val b = cells.filter(col("ha") === 0)
          .select(col("label"), col("pos"), col("sq").as("sb"),
            col("n").as("nb"))
        a.join(b, Seq("label", "pos"))
          .withColumn("dd", col("sa").cast("double") / col("na")
            - col("sb").cast("double") / col("nb"))
          .groupBy("label")
          .agg(max("na").as("n_a"), max("nb").as("n_b"),
            sum(dec(col("dd") * col("dd"))).as("ss"))
          .select(col("label"), col("n_a"), col("n_b"),
            (sqrt(col("ss").cast("double")) / 1048576.0)
              .as("centroid_shift"))
          .orderBy("label")
      }),

      "q_dim_variance" -> ((s, d) => {
        val ex = table(s, d, "embeddings")
          .select(posexplode(Similarity.fixedPoint(col("embedding")))
            .as(Seq("dim", "q")))
          .select((col("dim") + 1).cast("long").as("dim"), col("q"))
        ex.groupBy("dim")
          .agg(count(lit(1)).as("n"),
            sum("q").as("sq"),
            sum((col("q") * col("q")).cast(D38)).as("sqq"))
          .select(col("dim"), col("n"),
            ((col("sqq").cast("double") -
              col("sq").cast("double") * col("sq").cast("double") /
                col("n").cast("double")) / col("n").cast("double"))
              .as("var_fp"))
          .orderBy("dim")
      }),

      // --- embedding anisotropy audit (round 14): ‖μ‖² / E‖x‖² — the
      // common-direction-dominance score (Ethayarajh-style anisotropy
      // proxy): a healthy embedding space has a mean vector near the
      // origin; a collapsed one concentrates mass on one direction and
      // every cosine inflates. Per-dim rows expose WHERE the mean mass
      // sits (mu_share = μ_d² / ‖μ‖²) next to the corpus scalar.
      // Complements q_dim_variance (spread per dim) with the mean-
      // direction axis the variance can't see. Determinism: components
      // go through the shared 2^20 fixed point; per-term squares and
      // per-dim μ² quantize to DECIMAL(18,6) in VALUE units (≤ ~0.34
      // each, so the decimal sums stay small enough that the
      // decimal→double conversion is exact — the wide-decimal pitfall
      // SURVEY §5 documents); the ratio is a fixed two-op double tree.
      // One exploded-corpus aggregate + O(dims) math. ---
      "q_embed_anisotropy" -> ((s, d) => {
        val ex = table(s, d, "embeddings")
          .select(posexplode(Similarity.fixedPoint(col("embedding")))
            .as(Seq("dim", "q")))
          .select((col("dim") + 1).cast("long").as("dim"), col("q"),
            let(col("q").cast("double") / lit(1048576.0)) { v =>
              (v * v).cast("decimal(18,6)")
            }.as("t2"))
        val per = ex.groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("q").as("sq"))
          .withColumn("mu",
            col("sq").cast("double") / col("n") / lit(1048576.0))
          .withColumn("mu2q", (col("mu") * col("mu"))
            .cast("decimal(18,6)"))
        val t = ex.agg(sum("t2").cast("double").as("st2"))
        val tm = per.agg(sum("mu2q").cast("double").as("smu2"),
          max("n").as("nv"))
        per.crossJoin(broadcast(tm)).crossJoin(broadcast(t))
          .select(col("dim"), col("n"), col("mu"),
            (col("mu2q").cast("double") / col("smu2")).as("mu_share"),
            (col("smu2") * col("nv").cast("double") / col("st2"))
              .as("anisotropy"))
          .orderBy("dim")
      }),

      // --- paired model comparison (McNemar's test — the statistically
      // RIGHT way to compare two classifiers on the same items;
      // comparing two accuracy numbers ignores that the errors are
      // paired): two candidate predictors (quantized embedding dims 2
      // and 3, q_class_f1's construction) score every item, the corpus
      // reduces to the 2×2 agreement cells in ONE conditional pass,
      // and the statistic (b−c)²/(b+c) is a single division of exact
      // int64 counts. ---
      "q_model_winrate" -> ((s, d) => {
        def pred(i: Int) = abs(round(
          element_at(col("embedding"), i).cast("double") * 1000, 0))
          .cast("long") % 4
        val e = table(s, d, "embeddings").select(
          (col("label") % 4).cast("long").as("y"),
          pred(2).as("pa"), pred(3).as("pb"))
        e.agg(count(lit(1)).as("n"),
            sum(when(col("pa") === col("y") && col("pb") === col("y"),
              1L).otherwise(0L)).as("both_right"),
            sum(when(col("pa") =!= col("y") && col("pb") =!= col("y"),
              1L).otherwise(0L)).as("both_wrong"),
            sum(when(col("pa") === col("y") && col("pb") =!= col("y"),
              1L).otherwise(0L)).as("a_only"),
            sum(when(col("pa") =!= col("y") && col("pb") === col("y"),
              1L).otherwise(0L)).as("b_only"))
          .withColumn("mcnemar_chi2",
            ((col("a_only") - col("b_only")) *
              (col("a_only") - col("b_only"))).cast("double") /
              (col("a_only") + col("b_only")))
      }),

      // --- Bradley-Terry strength fitting (round 17): the pairwise-
      // preference aggregate under every RLHF/eval-arena leaderboard —
      // fit latent strengths θ from win counts so that
      // P(i beats j) = θi/(θi+θj). Arms = event types; a comparison is
      // one DAY's head-to-head daily-count ranking (i beats j on days
      // its volume is strictly higher; ties are no contest — the
      // standard BT protocol). The corpus-scale work is ONE aggregate
      // to the O(arms²) decisive-comparison matrix; the MM solve
      // (Hunter 2004: θi ← Wi / Σj nij/(θi+θj), renormalized each
      // round) runs driver-side on that bounded matrix — exactly where
      // a fleet pipeline solves it — in EXACT int64 micro-units
      // (θ on a 1e6 grid, per-pair terms nij·10¹⁵ div (θqi+θqj), floor
      // division in both engines), so 15 unrolled iterations land on
      // bit-identical grids with ONE terminal /1e6 render. ---
      "q_bradley_terry" -> ((s, d) => {
        import s.implicits._
        val daily = table(s, d, "events")
          .select(col("event_type"), col("ts").cast("date").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
        val a = daily.select(col("event_type").as("i"),
          col("day").as("day"), col("cnt").as("ci"))
        val b = daily.select(col("event_type").as("j"),
          col("day").as("day"), col("cnt").as("cj"))
        val duels = a.join(b, "day").filter(col("i") < col("j"))
          .filter(col("ci") =!= col("cj"))
          .groupBy("i", "j")
          .agg(count(lit(1)).as("n"),
            sum((col("ci") > col("cj")).cast("long")).as("wi"))
        // bounded collect: O(arms²) rows (event_type cardinality), the
        // same driver-coordination class as the Coresets greedy loops
        val m = duels.collect().map(r => (r.getAs[String]("i"),
          r.getAs[String]("j"), r.getAs[Long]("n"), r.getAs[Long]("wi")))
        val arms = m.flatMap(t => Seq(t._1, t._2)).distinct.sorted
        val wins = arms.map(k => k -> (
          m.filter(_._1 == k).map(_._4).sum +
            m.filter(_._2 == k).map(t => t._3 - t._4).sum)).toMap
        val nPlayed = arms.map(k => k ->
          m.filter(t => t._1 == k || t._2 == k).map(_._3).sum).toMap
        // BigInt throughout the solve (mirroring the oracle's HUGEINT
        // casts): w·10¹⁵ and n·10¹⁵ wrap int64 once wins/duel counts
        // pass ~9223 — the silent-wrap-vs-hard-error asymmetry the
        // q_ams_f2 DECIMAL fix removed, removed here the same way
        val scale = BigInt(1000000000000000L)
        var thq = arms.map(_ -> BigInt(1000000)).toMap
        val kArms = BigInt(arms.size)
        (1 to 15).foreach { _ =>
          val upd = arms.map { i =>
            val sm = m.collect {
              case (x, y, n, _) if x == i || y == i =>
                val other = if (x == i) y else x
                BigInt(n) * scale / (thq(i) + thq(other))
            }.sum
            i -> (if (sm > 0) (BigInt(wins(i)) * scale / sm)
              .max(BigInt(1)) else BigInt(1000000))
          }.toMap
          val s0 = upd.values.sum
          thq = upd.map { case (k, v) =>
            k -> (v * (kArms * 1000000) / s0).max(BigInt(1)) }
        }
        arms.toSeq.map(k => (k, nPlayed(k), wins(k),
            thq(k).toDouble / 1e6))
          .toDF("event_type", "n_comparisons", "wins", "theta")
          .orderBy("event_type")
      }),

      // --- trailing-7-day p95 per event type (the SLO baseline every
      // alerting rule compares against — a single day's p95 is too
      // noisy to page on): values quantize to the integer domain
      // FIRST (O(types×days×bins) cells), the 7-day trailing merge is
      // a banded equi-range join of the cell relation against the
      // anchor-day list (never a row-level window over raw events),
      // and each anchor's p95 is the exact cumulative-count threshold
      // over its merged domain. All integer until the final /100
      // render. ---
      "q_rolling_p95" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("event_type"), col("ts").cast("date").as("day"),
            round(col("value") * 100, 0).cast("long").as("vq"))
          .groupBy("event_type", "day", "vq")
          .agg(count(lit(1)).as("c"))
        val anchors = daily.select(col("event_type"), col("day"))
          .distinct().select(col("event_type").as("et"),
            col("day").as("anchor"))
        // r18 rewrite, result-identical: the old spelling was a theta
        // join (equi on event_type + a 0..6-day band) — the only equi
        // key has |event types| values, so the whole merge ran as a
        // handful of skewed partitions. Each day-cell contributes to
        // EXACTLY the 7 anchors day..day+6, so explode those up front
        // and equi-join on (et, anchor): the inner join against the
        // distinct real-anchor list drops fabricated dates, and the
        // shuffle is now keyed on the full (et, anchor) space.
        val merged = daily
          .select(col("event_type").as("et"), col("vq"), col("c"),
            explode(sequence(col("day"), date_add(col("day"), 6)))
              .as("anchor"))
          .join(anchors, Seq("et", "anchor"))
          .groupBy("et", "anchor", "vq").agg(sum("c").as("c"))
        val w = Window.partitionBy("et", "anchor").orderBy("vq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = merged.groupBy("et", "anchor")
          .agg(sum("c").as("n_7d"))
        merged.withColumn("cum", sum("c").over(w))
          .join(tot, Seq("et", "anchor"))
          .filter(col("cum") >= ceil(col("n_7d") * 0.95))
          .groupBy("et", "anchor", "n_7d").agg(min("vq").as("p95q"))
          .select(col("et").as("event_type"),
            date_format(col("anchor"), "yyyy-MM-dd").as("day"),
            col("n_7d"),
            (col("p95q").cast("double") / 100.0).as("p95"))
          .orderBy("event_type", "day")
      }),

      // --- dataset card (the one-row corpus summary published with
      // every training-data release: size, diversity, duplication,
      // and rare-mass in one glance): every number is a 1-row
      // aggregate of an EXISTING certified pipeline — token counts,
      // the min-count rare mass (q_rare_collapse's floor), the exact
      // near-dup pair relation — cross-joined broadcast-style into
      // one row. Composition is the point: the card is only
      // trustworthy because each ingredient is oracle-checked on its
      // own. ---
      "q_dataset_card" -> ((s, d) => {
        val docs = table(s, d, "documents")
        val base = docs.agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          countDistinct("lang").as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
        val tk = docs.select(explode(split(col("text"), " ")).as("tok"))
        val vocab = tk.groupBy("tok").agg(count(lit(1)).as("c"))
        val toks = vocab.agg(sum("c").as("total_tokens"),
          count(lit(1)).as("vocab_size"),
          sum(when(col("c") < 100, col("c")).otherwise(0L))
            .as("rare_mass"))
        val pairs = TextPipeline.ngramPairs(s, d)
          .select(col("a_id"), col("b_id"))
        val dup = pairs.agg(count(lit(1)).as("n_dup_pairs"))
        val dupDocs = pairs.select(explode(array(col("a_id"),
            col("b_id"))).as("doc_id")).distinct()
          .agg(count(lit(1)).as("n_dup_docs"))
        base.crossJoin(toks).crossJoin(dup).crossJoin(dupDocs)
          .select(col("n_docs"), col("n_sources"), col("n_langs"),
            col("total_chars"), col("total_tokens"), col("vocab_size"),
            col("rare_mass"),
            (col("rare_mass").cast("double") / col("total_tokens"))
              .as("rare_share"),
            col("n_dup_pairs"), col("n_dup_docs"),
            (col("n_dup_docs").cast("double") / col("n_docs"))
              .as("dup_doc_share"))
      }),

      // --- pinball (quantile) loss at q=0.9 of the per-type p90
      // constant predictor (the forecast-eval metric for quantile
      // models — MAE can't score a quantile): the p90 threshold comes
      // from exact cumulative counts over the quantized value DOMAIN
      // (the q_robust_scale idiom — the only window runs over O(bins)
      // aggregates), and the loss accumulates as ×10-scaled exact
      // int64 (9·over + 1·under), one terminal division to mean
      // loss in original units. ---
      "q_pinball_loss" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("y"))
        val dom = ev.groupBy("event_type", "y")
          .agg(count(lit(1)).as("c"))
        val wd = Window.partitionBy("event_type").orderBy("y")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val thr = dom.withColumn("cum", sum("c").over(wd))
          .join(broadcast(tot), "event_type")
          .filter(col("cum") >= ceil(col("n") * 0.9))
          .groupBy("event_type").agg(min("y").as("yhat"))
        ev.join(broadcast(thr), "event_type")
          .select(col("event_type"),
            when(col("y") >= col("yhat"),
              lit(9L) * (col("y") - col("yhat")))
              .otherwise(col("yhat") - col("y")).as("ls"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("ls").as("loss_scaled"))
          .join(broadcast(thr), "event_type")
          .select(col("event_type"), col("n"),
            (col("yhat").cast("double") / 100.0).as("yhat"),
            col("loss_scaled"),
            (col("loss_scaled").cast("double") /
              (lit(1000.0) * col("n").cast("double")))
              .as("mean_pinball"))
          .orderBy("event_type")
      }),

      // --- nearest-covariate matching (propensity-lite causal
      // matching: pair each treated customer with the control whose
      // balance is closest, inside the same segment — the step before
      // any matched-pairs estimate): both directions resolve with
      // carry-forward/carry-backward windows over the SAME
      // segment-partitioned sort (controls order before treated at
      // equal balance so distance-0 matches resolve; min-custkey ties
      // by sorting controls descending so last-seen wins) — never a
      // per-treated scan of the control pool. All-integer distances;
      // ties prefer the lower balance. ---
      "q_covariate_match" -> ((s, d) => {
        val c = table(s, d, "customer")
          .select(col("c_custkey").as("id"),
            col("c_mktsegment").as("seg"),
            round(col("c_acctbal"), 0).cast("long").as("bq"),
            (col("c_custkey") % 2 === 1).as("treated"))
        val tFlag = when(col("treated"), 1).otherwise(0)
        val w1 = Window.partitionBy("seg")
          .orderBy(col("bq").asc, tFlag.asc, col("id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w2 = Window.partitionBy("seg")
          .orderBy(col("bq").desc, tFlag.asc, col("id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def ctl(cc: Column) = when(!col("treated"), cc)
        val m = c
          .withColumn("lo_bq", last(ctl(col("bq")), ignoreNulls = true)
            .over(w1))
          .withColumn("lo_id", last(ctl(col("id")), ignoreNulls = true)
            .over(w1))
          .withColumn("hi_bq", last(ctl(col("bq")), ignoreNulls = true)
            .over(w2))
          .withColumn("hi_id", last(ctl(col("id")), ignoreNulls = true)
            .over(w2))
          .filter(col("treated"))
        val useLo = col("hi_bq").isNull ||
          (col("lo_bq").isNotNull &&
            col("bq") - col("lo_bq") <= col("hi_bq") - col("bq"))
        m.select(col("id").as("treated_id"), col("seg"),
            col("bq").as("treated_bq"),
            when(useLo, col("lo_id")).otherwise(col("hi_id"))
              .as("match_id"),
            when(useLo, col("lo_bq")).otherwise(col("hi_bq"))
              .as("match_bq"))
          .withColumn("dist", abs(col("treated_bq") - col("match_bq")))
          .orderBy("treated_id")
      }),

      // --- fixed-quota stratified sampling (exactly K per stratum —
      // the "100 docs per language" eval-set builder; rate-based
      // q_sample_stratified can't promise exact counts): md5 of the
      // doc id is the sort key, so the quota is reproducible with
      // zero RNG state and stable under corpus growth everywhere
      // except the md5 boundary. The rank window partitions by
      // stratum; at fleet scale the md5-rank survives as the same
      // per-stratum TopK shape every quota sampler uses. ---
      "q_sample_quota" -> ((s, d) => {
        val key = md5(concat(lit("quota"), col("doc_id").cast("string")))
        val w = Window.partitionBy("lang").orderBy("mk")
        table(s, d, "documents")
          .select(col("doc_id"), col("lang"), key.as("mk"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
          .orderBy("lang", "rk")
      }),

      // --- difference-in-differences (the experiment readout when
      // randomization isn't available: treated vs control, before vs
      // after, the interaction is the effect): treatment = user-id
      // parity, the post period starts at the exact integer midpoint
      // of the observed span (broadcast bounds). The four cell means
      // come from ONE conditional-aggregate pass over exact decimal
      // sums; DiD = (T1−T0)−(C1−C0) evaluates in a FIXED double tree
      // — four divisions and three subtractions, identical in the
      // oracle. ---
      "q_diff_in_diff" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(unix_micros(col("ts")).as("us"),
            (col("user_id") % 2 === 1).as("treat"),
            dec(col("value")).as("v"))
        val b = ev.agg(min("us").as("t0"), max("us").as("t1"))
        val cells = ev.crossJoin(broadcast(b))
          .select(col("treat"),
            (col("us") >= col("t0") + expr("(t1 - t0) div 2"))
              .as("post"), col("v"))
        def cell(t: Boolean, p: Boolean, nm: String) = Seq(
          sum(when(col("treat") === t && col("post") === p, col("v"))
            .otherwise(lit(0).cast(D))).as(s"s_$nm"),
          sum(when(col("treat") === t && col("post") === p, 1L)
            .otherwise(0L)).as(s"n_$nm"))
        val aggs = cell(t = true, p = false, "t0") ++
          cell(t = true, p = true, "t1") ++
          cell(t = false, p = false, "c0") ++
          cell(t = false, p = true, "c1")
        val g = cells.agg(aggs.head, aggs.tail: _*)
        def m(nm: String) =
          col(s"s_$nm").cast("double") / col(s"n_$nm")
        g.select(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
          m("t0").as("mean_t_pre"), m("t1").as("mean_t_post"),
          m("c0").as("mean_c_pre"), m("c1").as("mean_c_post"),
          ((m("t1") - m("t0")) - (m("c1") - m("c0"))).as("did"))
      }),

      // --- PSI drift (population stability index between the first
      // and second half of the event stream — THE production model-
      // monitoring metric for input drift): value distributions bin
      // to integer units, add-one smoothing closes empty bins, and
      // each bin contributes (aA·MB − aB·MA)·⌊log2⌋-bits — sign of
      // the count diff and sign of the log always agree, so every
      // contribution is a nonnegative exact int64; ONE terminal
      // division scales the sum. The split point is exact integer
      // microseconds from a broadcast bounds row. ---
      "q_psi_drift" -> ((s, d) => {
        def bits(x: Column, z: Column): Column =
          (length(bin(floor(x.cast("double") / z.cast("double"))
            .cast("long"))) - 1).cast("long")
        val ev = table(s, d, "events")
          .select(unix_micros(col("ts")).as("us"),
            round(col("value"), 0).cast("long").as("bin"))
        val b = ev.agg(min("us").as("t0"), max("us").as("t1"))
        val halves = ev.crossJoin(broadcast(b))
          .select(col("bin"),
            (col("us") < col("t0") + expr("(t1 - t0) div 2"))
              .cast("long").as("ina"))
        val cells = halves.groupBy("bin")
          .agg(sum("ina").as("ca"), sum(lit(1L) - col("ina")).as("cb"))
        val tot = cells.agg(count(lit(1)).as("nbins"),
          sum(col("ca") + 1).as("ma"), sum(col("cb") + 1).as("mb"))
        cells.crossJoin(broadcast(tot))
          .withColumn("x", (col("ca") + 1) * col("mb"))
          .withColumn("z", (col("cb") + 1) * col("ma"))
          .withColumn("contrib",
            when(col("x") >= col("z"),
              (col("x") - col("z")) * bits(col("x"), col("z")))
              .otherwise((col("z") - col("x")) * bits(col("z"), col("x"))))
          .groupBy()
          .agg(max("ma").as("ma"), max("mb").as("mb"),
            max("nbins").as("n_bins"),
            sum("contrib").as("psi_scaled"))
          .withColumn("psi_bits",
            col("psi_scaled").cast("double") /
              (col("ma").cast("double") * col("mb").cast("double")))
      }),

      // --- cohort LTV curve (cumulative revenue per signup cohort as
      // it ages — the unit-economics readout behind every retention
      // deck): cohort = a customer's first order month, age = exact
      // integer month arithmetic (year·12+month differences — never
      // date subtraction semantics that disagree across engines).
      // Orders reduce straight to O(cohorts×ages) cells with decimal
      // revenue sums; the cumulative window runs per cohort over that
      // tiny cell relation with EXACT decimal accumulation, cast to
      // double once at the edge. ---
      "q_cohort_ltv" -> ((s, d) => {
        val om = date_trunc("month", col("o_orderdate"))
        val first = table(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(min(om).as("cm"))
        val cells = table(s, d, "orders")
          .join(broadcast(first), "o_custkey")
          .select(date_format(col("cm"), "yyyy-MM").as("cohort"),
            ((year(om) * 12 + month(om)) -
              (year(col("cm")) * 12 + month(col("cm"))))
              .cast("long").as("age_m"),
            dec(col("o_totalprice")).as("v"))
          .groupBy("cohort", "age_m")
          .agg(count(lit(1)).as("n_orders"), sum("v").as("rev"))
        val w = Window.partitionBy("cohort").orderBy("age_m")
        cells
          .withColumn("cum_rev", sum("rev").over(w))
          .select(col("cohort"), col("age_m"), col("n_orders"),
            col("rev").cast("double").as("rev"),
            col("cum_rev").cast("double").as("cum_rev"))
          .orderBy("cohort", "age_m")
      }),

      // --- Herfindahl revenue concentration per market segment (is
      // one customer carrying the segment? — the concentration audit
      // that decides panel-risk / skew handling): per-customer
      // revenues quantize to int64, squares accumulate in
      // DECIMAL(38,0) (exact, order-independent), HHI = Σr²/ (Σr)²
      // with the square-of-total as one fixed double product. Both
      // aggregates are customer- then segment-sized. ---
      "q_hhi_concentration" -> ((s, d) => {
        val rev = table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("c_custkey"),
            round(col("o_totalprice"), 0).cast("long").as("vq"))
          .groupBy("seg", "c_custkey").agg(sum("vq").as("r"))
        rev.groupBy("seg")
          .agg(count(lit(1)).as("n_cust"),
            sum("r").as("total_q"),
            sum((col("r") * col("r")).cast(D38)).as("sq"))
          .select(col("seg"), col("n_cust"), col("total_q"),
            (col("sq").cast("double") /
              (col("total_q").cast("double") *
                col("total_q").cast("double"))).as("hhi"))
          .orderBy("seg")
      }))

  override def oracle: Map[String, String] = Map(

    "q_price_index" ->
      """WITH li AS (SELECT l_partkey AS pk,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q FROM lineitem),
        |pm AS (SELECT pk, m,
        |    CAST(SUM(epc) AS BIGINT) // CAST(SUM(q) AS BIGINT) AS p,
        |    CAST(SUM(q) AS BIGINT) AS sq FROM li GROUP BY 1, 2),
        |m0 AS (SELECT MIN(m) AS m0 FROM pm),
        |base AS (SELECT pk, p AS p0, sq AS q0 FROM pm, m0
        |         WHERE m = m0)
        |SELECT m, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(p * q0) AS DOUBLE) / CAST(SUM(p0 * q0) AS DOUBLE)
        |    AS laspeyres,
        |  CAST(SUM(p * sq) AS DOUBLE) / CAST(SUM(p0 * sq) AS DOUBLE)
        |    AS paasche,
        |  sqrt((CAST(SUM(p * q0) AS DOUBLE)
        |      / CAST(SUM(p0 * q0) AS DOUBLE))
        |    * (CAST(SUM(p * sq) AS DOUBLE)
        |      / CAST(SUM(p0 * sq) AS DOUBLE))) AS fisher
        |FROM pm JOIN base USING (pk)
        |GROUP BY m ORDER BY m""".stripMargin,

    "q_causal_impact" ->
      """WITH days AS (SELECT CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |pre AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(day) AS BIGINT) AS sd,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(day * day) AS BIGINT) AS sdd,
        |    CAST(SUM(day * x) AS BIGINT) AS sdx
        |  FROM days WHERE day < 15),
        |fit AS (SELECT n,
        |    n * sdx - sd * sx AS numS,
        |    n * sdd - sd * sd AS den,
        |    sx * (n * sdd - sd * sd) - (n * sdx - sd * sx) * sd
        |      AS numI,
        |    n * (n * sdd - sd * sd) AS dd
        |  FROM pre),
        |post AS (SELECT day, x, numI + n * numS * day AS predD,
        |    x * dd - (numI + n * numS * day) AS effD, dd
        |  FROM days CROSS JOIN fit WHERE day >= 15),
        |cm AS (SELECT day, x, predD, effD, dd,
        |    CAST(SUM(effD) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumD
        |  FROM post)
        |SELECT day, x AS actual,
        |  CAST(predD AS DOUBLE) / CAST(dd AS DOUBLE) AS predicted,
        |  CAST(effD AS DOUBLE) / CAST(dd AS DOUBLE) AS effect,
        |  CAST(cumD AS DOUBLE) / CAST(dd AS DOUBLE) AS cum_effect
        |FROM cm ORDER BY day""".stripMargin,

    "q_return_rate" ->
      """WITH g AS (SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returned,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |      AS DECIMAL(38,4)) AS rev,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4))
        |      AS rev_returned
        |  FROM lineitem GROUP BY 1)
        |SELECT month, n_lines, n_returned,
        |  CAST(n_returned AS DOUBLE) / n_lines AS line_return_rate,
        |  CAST(rev_returned AS DOUBLE) / CAST(rev AS DOUBLE)
        |    AS revenue_return_rate
        |FROM g ORDER BY month""".stripMargin,

    "q_embed_drift" ->
      s"""WITH x AS (SELECT CAST(label AS BIGINT) AS label,
         |    CAST(vec_id % 2 = 0 AS INT) AS ha,
         |    generate_subscripts(embedding, 1) AS pos,
         |    unnest(${Similarity.qSql}) AS q
         |  FROM embeddings),
         |c AS (SELECT label, ha, pos, CAST(SUM(q) AS BIGINT) AS sq,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM x GROUP BY 1, 2, 3),
         |j AS (SELECT a.label, a.pos,
         |    CAST(a.sq AS DOUBLE) / a.n - CAST(b.sq AS DOUBLE) / b.n
         |      AS dd,
         |    a.n AS na, b.n AS nb
         |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
         |    AND a.ha = 1 AND b.ha = 0),
         |g AS (SELECT label, CAST(MAX(na) AS BIGINT) AS n_a,
         |    CAST(MAX(nb) AS BIGINT) AS n_b,
         |    SUM(CAST(dd * dd AS DECIMAL(18,4))) AS ss
         |  FROM j GROUP BY 1)
         |SELECT label, n_a, n_b,
         |  sqrt(CAST(ss AS DOUBLE)) / 1048576.0 AS centroid_shift
         |FROM g ORDER BY label""".stripMargin,

    "q_doc_novelty" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |df AS (SELECT sg, CAST(COUNT(*) AS BIGINT) AS df
         |       FROM e GROUP BY sg)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
         |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS novelty
         |FROM e JOIN df USING (sg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_novelty_curve" ->
      """WITH t2 AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |s2 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(tk) - 2, 0) + 1),
        |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |       FROM t2),
        |fo AS (SELECT g, MIN(doc_id) AS fd FROM s2 GROUP BY g),
        |mx2 AS (SELECT MAX(doc_id) AS mx FROM t2),
        |bd3 AS (SELECT least(9, (fd * 10) // (mx + 1)) AS decile,
        |          COUNT(*) AS n_new_grams
        |        FROM fo CROSS JOIN mx2 GROUP BY 1),
        |tt3 AS (SELECT CAST(SUM(n_new_grams) AS BIGINT) AS t FROM bd3),
        |cm3 AS (SELECT decile, n_new_grams,
        |          CAST(SUM(n_new_grams) OVER (ORDER BY decile
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_new
        |        FROM bd3)
        |SELECT decile, n_new_grams, cum_new,
        |  CAST(cum_new AS DOUBLE) / CAST(t AS DOUBLE) AS cum_frac
        |FROM cm3 CROSS JOIN tt3 ORDER BY decile""".stripMargin,

    "q_time_heatmap" ->
      """WITH cells AS (SELECT
        |    CAST(extract(dow FROM ts) AS BIGINT) AS dow,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells)
        |SELECT dow, hr, n, sum_v,
        |  CAST(n AS DOUBLE) / nn AS share
        |FROM cells CROSS JOIN t ORDER BY dow, hr""".stripMargin,

    "q_wow_growth" ->
      """WITH wk AS (SELECT event_type, date_trunc('week', ts) AS wk,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, wk, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM wk)
        |SELECT event_type, strftime(wk, '%Y-%m-%d %H:%M:%S.%f')
        |    AS week, n, prev,
        |  CAST(n - prev AS DOUBLE) / prev AS wow_growth
        |FROM lg WHERE prev IS NOT NULL
        |ORDER BY event_type, week""".stripMargin,

    "q_class_balance" ->
      """WITH e AS (SELECT vec_id, CAST(label % 4 AS BIGINT) AS y,
        |    md5('bal' || CAST(vec_id AS VARCHAR)) AS mk
        |  FROM embeddings),
        |qt AS (SELECT CAST(MIN(cn) AS BIGINT) AS quota FROM
        |  (SELECT y, COUNT(*) AS cn FROM e GROUP BY y)),
        |r AS (SELECT vec_id, y,
        |    CAST(row_number() OVER (PARTITION BY y ORDER BY mk)
        |      AS BIGINT) AS rk
        |  FROM e)
        |SELECT vec_id, y, rk FROM r CROSS JOIN qt
        |WHERE rk <= quota ORDER BY y, rk""".stripMargin,

    "q_dim_variance" -> {
      val q = "list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
      s"""WITH x AS (SELECT generate_subscripts(embedding, 1) AS dim,
         |    unnest($q) AS q FROM embeddings)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  (CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE)
         |    - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE)
         |    AS var_fp
         |FROM x GROUP BY dim ORDER BY dim""".stripMargin
    },

    "q_embed_anisotropy" -> {
      val q = "list_transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
      s"""WITH x AS (SELECT generate_subscripts(embedding, 1) AS dim,
         |    unnest($q) AS q FROM embeddings),
         |e2 AS (SELECT dim, q,
         |    CAST((CAST(q AS DOUBLE) / 1048576.0)
         |      * (CAST(q AS DOUBLE) / 1048576.0) AS DECIMAL(18,6))
         |      AS t2
         |  FROM x),
         |per AS (SELECT CAST(dim AS BIGINT) AS dim,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(q) AS BIGINT) AS sq
         |  FROM e2 GROUP BY 1),
         |pm AS (SELECT dim, n,
         |    CAST(sq AS DOUBLE) / n / 1048576.0 AS mu FROM per),
         |pm2 AS (SELECT dim, n, mu,
         |    CAST(mu * mu AS DECIMAL(18,6)) AS mu2q FROM pm),
         |t AS (SELECT CAST(SUM(t2) AS DOUBLE) AS st2 FROM e2),
         |tm AS (SELECT CAST(SUM(mu2q) AS DOUBLE) AS smu2,
         |    MAX(n) AS nv FROM pm2)
         |SELECT dim, n, mu, CAST(mu2q AS DOUBLE) / smu2 AS mu_share,
         |  smu2 * CAST(nv AS DOUBLE) / st2 AS anisotropy
         |FROM pm2 CROSS JOIN t CROSS JOIN tm ORDER BY dim"""
        .stripMargin
    },

    // the MM solve unrolls as 15 chained CTE pairs (the minhash
    // band-fold precedent) in the SAME int64 micro-unit arithmetic
    // the Spark driver loop runs — floor division everywhere, so the
    // two engines land on identical grids at every iteration
    "q_bradley_terry" -> {
      // HUGEINT through the solve (the q_pca_power lesson: HUGEINT
      // `//` is exact; n·10¹⁵ / w·10¹⁵ wrap BIGINT past ~9223
      // wins/duels — the Scala side runs the same grids in BigInt)
      val iters = (0 until 15).map { k =>
        s"""s$k AS MATERIALIZED (SELECT pb.i,
           |    CAST(SUM(CAST(pb.n AS HUGEINT) * 1000000000000000 //
           |      (ta.thq + tb.thq)) AS HUGEINT) AS sm
           |  FROM pb JOIN t$k ta ON ta.i = pb.i
           |    JOIN t$k tb ON tb.i = pb.j GROUP BY pb.i),
           |u$k AS MATERIALIZED (SELECT w.i,
           |    GREATEST(CAST(w.w AS HUGEINT) * 1000000000000000
           |      // s.sm, 1) AS thq
           |  FROM wn w JOIN s$k s ON s.i = w.i),
           |t${k + 1} AS MATERIALIZED (SELECT u.i,
           |    GREATEST(u.thq *
           |      CAST((SELECT COUNT(*) * 1000000 FROM u$k) AS HUGEINT)
           |      // CAST((SELECT SUM(thq) FROM u$k) AS HUGEINT),
           |      1) AS thq
           |  FROM u$k u)""".stripMargin
      }.mkString(",\n")
      s"""WITH daily AS MATERIALIZED (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |duels AS MATERIALIZED (SELECT a.event_type AS i, b.event_type AS j,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wi
         |  FROM daily a JOIN daily b ON a.day = b.day
         |    AND a.event_type < b.event_type AND a.cnt <> b.cnt
         |  GROUP BY 1, 2),
         |pb AS MATERIALIZED (SELECT i, j, n FROM duels
         |  UNION ALL SELECT j, i, n FROM duels),
         |wn AS MATERIALIZED (SELECT i, CAST(SUM(w) AS BIGINT) AS w,
         |    CAST(SUM(n) AS BIGINT) AS np
         |  FROM (SELECT i, wi AS w, n FROM duels
         |    UNION ALL SELECT j, n - wi, n FROM duels) z GROUP BY i),
         |t0 AS MATERIALIZED (SELECT i,
         |  CAST(1000000 AS HUGEINT) AS thq FROM wn),
         |$iters
         |SELECT w.i AS event_type, w.np AS n_comparisons,
         |  w.w AS wins, CAST(t15.thq AS DOUBLE) / 1000000 AS theta
         |FROM wn w JOIN t15 ON t15.i = w.i
         |ORDER BY event_type""".stripMargin
    },

    "q_model_winrate" ->
      """WITH e AS (SELECT CAST(label % 4 AS BIGINT) AS y,
        |    abs(CAST(round(CAST(embedding[2] AS DOUBLE) * 1000, 0)
        |      AS BIGINT)) % 4 AS pa,
        |    abs(CAST(round(CAST(embedding[3] AS DOUBLE) * 1000, 0)
        |      AS BIGINT)) % 4 AS pb
        |  FROM embeddings),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS both_right,
        |  CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS both_wrong,
        |  CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a_only,
        |  CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b_only
        |  FROM e)
        |SELECT n, both_right, both_wrong, a_only, b_only,
        |  CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE)
        |    / (a_only + b_only) AS mcnemar_chi2
        |FROM g""".stripMargin,

    "q_rolling_p95" ->
      """WITH daily AS MATERIALIZED (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vq,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |anchors AS (SELECT DISTINCT event_type AS et, day AS anchor
        |            FROM daily),
        |merged AS (SELECT et, anchor, vq, CAST(SUM(c) AS BIGINT) AS c
        |  FROM daily JOIN anchors ON event_type = et
        |    AND date_diff('day', day, anchor) BETWEEN 0 AND 6
        |  GROUP BY et, anchor, vq),
        |tot AS (SELECT et, anchor, CAST(SUM(c) AS BIGINT) AS n_7d
        |        FROM merged GROUP BY et, anchor),
        |cum AS (SELECT et, anchor, vq,
        |    CAST(SUM(c) OVER (PARTITION BY et, anchor ORDER BY vq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM merged)
        |SELECT et AS event_type, strftime(anchor, '%Y-%m-%d') AS day,
        |  n_7d, CAST(MIN(vq) AS DOUBLE) / 100.0 AS p95
        |FROM cum JOIN tot USING (et, anchor)
        |WHERE cum >= ceil(n_7d * 0.95)
        |GROUP BY et, anchor, n_7d
        |ORDER BY event_type, day""".stripMargin,

    "q_dataset_card" ->
      s"""WITH ${TextPipeline.ngramPairCte},
         |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM documents),
         |tk AS (SELECT unnest(string_split(text, ' ')) AS tok
         |       FROM documents),
         |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM tk GROUP BY tok),
         |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS vocab_size,
         |    CAST(SUM(CASE WHEN c < 100 THEN c ELSE 0 END) AS BIGINT)
         |      AS rare_mass
         |  FROM v),
         |dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs FROM p),
         |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT DISTINCT doc FROM (
         |    SELECT a_id AS doc FROM p
         |    UNION ALL SELECT b_id FROM p)))
         |SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
         |  vocab_size, rare_mass,
         |  CAST(rare_mass AS DOUBLE) / total_tokens AS rare_share,
         |  n_dup_pairs, n_dup_docs,
         |  CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_doc_share
         |FROM base CROSS JOIN tt CROSS JOIN dp
         |CROSS JOIN dd""".stripMargin,

    "q_pinball_loss" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS y FROM events),
        |dom AS (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM e GROUP BY event_type, y),
        |tt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM e GROUP BY event_type),
        |cum AS (SELECT event_type, y,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM dom),
        |thr AS (SELECT event_type, MIN(y) AS yhat
        |  FROM cum JOIN tt USING (event_type)
        |  WHERE cum >= ceil(n * 0.9) GROUP BY event_type),
        |ls AS (SELECT e.event_type,
        |    CASE WHEN y >= yhat THEN 9 * (y - yhat)
        |         ELSE yhat - y END AS ls
        |  FROM e JOIN thr USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(yhat) AS DOUBLE) / 100.0 AS yhat,
        |  CAST(SUM(ls) AS BIGINT) AS loss_scaled,
        |  CAST(SUM(ls) AS DOUBLE) / (1000.0 * COUNT(*)) AS mean_pinball
        |FROM ls JOIN thr USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_covariate_match" ->
      """WITH c AS (SELECT c_custkey AS id, c_mktsegment AS seg,
        |    CAST(round(c_acctbal, 0) AS BIGINT) AS bq,
        |    c_custkey % 2 = 1 AS treated
        |  FROM customer),
        |m AS (SELECT id, seg, bq, treated,
        |    last_value(CASE WHEN NOT treated THEN bq END IGNORE NULLS)
        |      OVER w1 AS lo_bq,
        |    last_value(CASE WHEN NOT treated THEN id END IGNORE NULLS)
        |      OVER w1 AS lo_id,
        |    last_value(CASE WHEN NOT treated THEN bq END IGNORE NULLS)
        |      OVER w2 AS hi_bq,
        |    last_value(CASE WHEN NOT treated THEN id END IGNORE NULLS)
        |      OVER w2 AS hi_id
        |  FROM c
        |  WINDOW w1 AS (PARTITION BY seg
        |      ORDER BY bq ASC, CASE WHEN treated THEN 1 ELSE 0 END ASC,
        |        id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w2 AS (PARTITION BY seg
        |      ORDER BY bq DESC, CASE WHEN treated THEN 1 ELSE 0 END ASC,
        |        id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT id AS treated_id, seg, bq AS treated_bq,
        |    CASE WHEN hi_bq IS NULL OR (lo_bq IS NOT NULL
        |        AND bq - lo_bq <= hi_bq - bq)
        |      THEN lo_id ELSE hi_id END AS match_id,
        |    CASE WHEN hi_bq IS NULL OR (lo_bq IS NOT NULL
        |        AND bq - lo_bq <= hi_bq - bq)
        |      THEN lo_bq ELSE hi_bq END AS match_bq
        |  FROM m WHERE treated)
        |SELECT treated_id, seg, treated_bq, match_id, match_bq,
        |  abs(treated_bq - match_bq) AS dist
        |FROM t ORDER BY treated_id""".stripMargin,

    "q_sample_quota" ->
      """WITH k AS (SELECT doc_id, lang,
        |    md5('quota' || CAST(doc_id AS VARCHAR)) AS mk
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY mk)
        |      AS BIGINT) AS rk
        |  FROM k)
        |SELECT doc_id, lang, rk FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    "q_diff_in_diff" ->
      """WITH e AS (SELECT epoch_us(ts) AS us,
        |    user_id % 2 = 1 AS treat,
        |    CAST(value AS DECIMAL(18,4)) AS v FROM events),
        |b AS (SELECT MIN(us) AS t0, MAX(us) AS t1 FROM e),
        |c AS (SELECT treat, us >= t0 + (t1 - t0) // 2 AS post, v
        |  FROM e CROSS JOIN b),
        |g AS (SELECT
        |  SUM(CASE WHEN treat AND NOT post THEN v
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS s_t0,
        |  CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t0,
        |  SUM(CASE WHEN treat AND post THEN v
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS s_t1,
        |  CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t1,
        |  SUM(CASE WHEN NOT treat AND NOT post THEN v
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS s_c0,
        |  CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c0,
        |  SUM(CASE WHEN NOT treat AND post THEN v
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS s_c1,
        |  CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c1
        |  FROM c)
        |SELECT n_t0, n_t1, n_c0, n_c1,
        |  CAST(s_t0 AS DOUBLE) / n_t0 AS mean_t_pre,
        |  CAST(s_t1 AS DOUBLE) / n_t1 AS mean_t_post,
        |  CAST(s_c0 AS DOUBLE) / n_c0 AS mean_c_pre,
        |  CAST(s_c1 AS DOUBLE) / n_c1 AS mean_c_post,
        |  ((CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0)
        |   - (CAST(s_c1 AS DOUBLE) / n_c1 - CAST(s_c0 AS DOUBLE) / n_c0))
        |    AS did
        |FROM g""".stripMargin,

    "q_psi_drift" ->
      """WITH e AS (SELECT epoch_us(ts) AS us,
        |    CAST(round(value, 0) AS BIGINT) AS bin FROM events),
        |b AS (SELECT MIN(us) AS t0, MAX(us) AS t1 FROM e),
        |h AS (SELECT bin,
        |    CAST(us < t0 + (t1 - t0) // 2 AS BIGINT) AS ina
        |  FROM e CROSS JOIN b),
        |cells AS (SELECT bin, CAST(SUM(ina) AS BIGINT) AS ca,
        |    CAST(SUM(1 - ina) AS BIGINT) AS cb
        |  FROM h GROUP BY bin),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbins,
        |    CAST(SUM(ca + 1) AS BIGINT) AS ma,
        |    CAST(SUM(cb + 1) AS BIGINT) AS mb FROM cells),
        |ctr AS (SELECT (ca + 1) * mb AS x, (cb + 1) * ma AS z,
        |    ma, mb, nbins
        |  FROM cells CROSS JOIN t)
        |SELECT MAX(ma) AS ma, MAX(mb) AS mb, MAX(nbins) AS n_bins,
        |  CAST(SUM(CASE WHEN x >= z
        |    THEN (x - z) * (length(bin(x // z)) - 1)
        |    ELSE (z - x) * (length(bin(z // x)) - 1) END) AS BIGINT)
        |    AS psi_scaled,
        |  CAST(SUM(CASE WHEN x >= z
        |    THEN (x - z) * (length(bin(x // z)) - 1)
        |    ELSE (z - x) * (length(bin(z // x)) - 1) END) AS DOUBLE)
        |    / (CAST(MAX(ma) AS DOUBLE) * CAST(MAX(mb) AS DOUBLE))
        |    AS psi_bits
        |FROM ctr""".stripMargin,

    "q_cohort_ltv" ->
      """WITH fm AS (SELECT o_custkey,
        |    MIN(date_trunc('month', o_orderdate)) AS cm
        |  FROM orders GROUP BY o_custkey),
        |cells AS (SELECT strftime(cm, '%Y-%m') AS cohort,
        |    CAST((year(date_trunc('month', o_orderdate)) * 12
        |        + month(date_trunc('month', o_orderdate)))
        |      - (year(cm) * 12 + month(cm)) AS BIGINT) AS age_m,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders JOIN fm USING (o_custkey)
        |  GROUP BY 1, 2)
        |SELECT cohort, age_m, n_orders,
        |  CAST(rev AS DOUBLE) AS rev,
        |  CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age_m)
        |    AS DOUBLE) AS cum_rev
        |FROM cells ORDER BY cohort, age_m""".stripMargin,

    "q_hhi_concentration" ->
      """WITH rev AS (SELECT c_mktsegment AS seg, c_custkey,
        |    CAST(SUM(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
        |      AS r
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(r) AS BIGINT) AS total_q,
        |  CAST(SUM(CAST(r * r AS DECIMAL(38,0))) AS DOUBLE)
        |    / (CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)) AS hhi
        |FROM rev GROUP BY seg ORDER BY seg""".stripMargin)
}

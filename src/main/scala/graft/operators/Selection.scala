package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Selection / preference-ranking operators (round 12, second block):
  * a Bradley-Terry strength step over pairwise "matches", deterministic
  * acceptance resampling to a target source mix, and a reciprocal-rank
  * -fusion quality ensemble. All three carry full DuckDB oracles.
  *
  * Determinism disciplines: pairwise counts and token masses stay
  * integer; every float term that enters a data-dependent-order sum
  * quantizes to DECIMAL(18,4) first (BT step-2 denominators, RRF
  * terms); ranks come from value-BANDED cumulative counts (min-rank
  * semantics, no corpus-sized sort); sampling acceptance is a pure
  * function of doc_id through the portable md5-prefix-64 basis.
  */
object Selection extends QueryModule {

  private def toks: Column = split(col("text"), " ")

  /** Banded min-rank map for an integer signal: rank(v) = 1 + #docs
    * with a strictly better (larger) value — computed on the
    * value-bounded band relation, then broadcast-joined back.
    */
  private def rankMap(df: DataFrame, c: String, out: String): DataFrame = {
    val w = Window.orderBy(col(c).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy(c).agg(count(lit(1)).as("cnt"))
      .withColumn(out, coalesce(sum("cnt").over(w), lit(0L)) + lit(1L))
      .select(col(c), col(out))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- Bradley-Terry preference strengths, two MM iterations
      // (arena-style model ranking arithmetic, run here over event-type
      // "matches": each user transition a->b is a match b wins). The
      // corpus-sized work is ONE user-keyed lag window; everything
      // after is O(types^2) — pairwise counts, the uniform-init MM
      // step (s1 = 2W/N exactly), and step 2 whose denominator terms
      // n_ij/(s1_i+s1_j) quantize to DECIMAL(18,4) before the
      // per-type fold (a raw double sum's order would be
      // partition-dependent). A realized pair always has a winner, so
      // no s1_i+s1_j denominator can be 0. ---
      "q_bt_step" -> ((s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        val m = Advanced.eventsByUser(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull &&
            col("prev_type") =!= col("event_type"))
          .select(col("event_type").as("winner"),
            col("prev_type").as("loser"))
        val pa = m
          .select(least(col("winner"), col("loser")).as("ta"),
            greatest(col("winner"), col("loser")).as("tb"),
            (col("winner") <= col("loser")).cast("long").as("wa"))
          .groupBy("ta", "tb")
          .agg(count(lit(1)).as("n"), sum("wa").cast("long").as("wins_a"))
        val dir = pa.select(col("ta").as("t"), col("tb").as("o"),
            col("n"), col("wins_a").as("wn"))
          .unionByName(pa.select(col("tb").as("t"), col("ta").as("o"),
            col("n"), (col("n") - col("wins_a")).as("wn")))
        val st = dir.groupBy("t")
          .agg(sum("n").cast("long").as("games"),
            sum("wn").cast("long").as("wins"))
          .withColumn("s1",
            col("wins").cast("double") * 2.0 / col("games").cast("double"))
        val s1t = st.select(col("t"), col("s1"))
        val den = dir
          .join(broadcast(s1t), "t")
          .join(broadcast(s1t.select(col("t").as("o"),
            col("s1").as("s1o"))), "o")
          .select(col("t"),
            dec(col("n").cast("double") / (col("s1") + col("s1o")))
              .as("term"))
          .groupBy("t").agg(sum("term").as("dn"))
        val out = st.join(den, "t")
          .select(col("t").as("event_type"), col("games"), col("wins"),
            col("s1"),
            (col("wins").cast("double") / col("dn").cast("double"))
              .as("s2"))
        val wr = Window.orderBy(col("s2").desc, col("event_type"))
        out.withColumn("rnk", row_number().over(wr).cast("long"))
          .orderBy("event_type")
      }),

      // --- deterministic acceptance resampling to the sqrt-share
      // target mix: accept doc iff md5_64("rs|doc_id") mod 1e6 falls
      // under the source's acceptance threshold a_s = ratio_s /
      // max_ratio (ratio = p_target/share — the most-upweighted source
      // keeps everything, the rest downsample toward the target). A
      // pure function of doc_id: re-running yields the SAME corpus
      // (dataset versioning requires it), with zero RNG state on
      // executors. The mix table is O(sources) and broadcasts; the
      // corpus-sized work is one map-side hash + filter. ---
      "q_resample_mix" -> ((s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("source"), lng(size(toks)).as("nt"))
        val src = docs.groupBy("source")
          .agg(count(lit(1)).as("docs_before"),
            sum("nt").cast("long").as("tokens_before"))
        val tot = src.agg(sum("tokens_before").cast("long").as("total"))
        val sh = src.crossJoin(broadcast(tot))
          .withColumn("share", col("tokens_before").cast("double")
            / col("total").cast("double"))
          .withColumn("p_raw", dec(sqrt(col("share"))))
        val z = sh.agg(sum("p_raw").as("z"))
        val mix = sh.crossJoin(broadcast(z))
          .withColumn("p_target",
            col("p_raw").cast("double") / col("z").cast("double"))
          .withColumn("ratio", col("p_target") / col("share"))
        val mr = mix.agg(max("ratio").as("max_ratio"))
        val acc = mix.crossJoin(broadcast(mr))
          .withColumn("thresh",
            floor(lit(1000000.0) * (col("ratio") / col("max_ratio")))
              .cast("long"))
          .select(col("source"), col("docs_before"), col("tokens_before"),
            col("share"), col("p_target"), col("thresh"))
        val kept = docs
          .join(broadcast(acc.select("source", "thresh")), "source")
          .filter(pmod(graft.functions.Md5Long(
            concat(lit("rs|"), col("doc_id").cast("string"))),
            lit(1000000L)) < col("thresh"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs_after"),
            sum("nt").cast("long").as("tokens_after"))
        val ta = kept.agg(sum("tokens_after").cast("long")
          .as("total_after"))
        acc.join(broadcast(kept), Seq("source"), "left")
          .na.fill(0L, Seq("docs_after", "tokens_after"))
          .crossJoin(broadcast(ta))
          .select(col("source"), col("docs_before"), col("docs_after"),
            col("tokens_before"), col("tokens_after"), col("share"),
            col("p_target"),
            (col("tokens_after").cast("double")
              / col("total_after").cast("double")).as("share_after"))
          .orderBy("source")
      }),

      // --- reciprocal-rank-fusion quality ensemble: three integer
      // quality signals (distinct-token rate, stopword density,
      // closeness to a 300-char target length) fuse via RRF
      // (1/(60+rank) summed across signals — q_rank_fusion's recipe
      // pointed at corpus curation). Each signal's min-rank comes from
      // a value-BANDED cumulative count (thousandths-ratio / char-range
      // bands — never a corpus-sized sort); RRF terms quantize to
      // DECIMAL(18,4) so the 3-term sum is exact; the top-50 cut is a
      // TakeOrdered with doc_id ties. ---
      "q_quality_ensemble" -> ((s, d) => {
        val t = table(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            lng(size(toks)).as("nt"),
            lng(size(array_distinct(toks))).as("nd"),
            lng(size(filter(toks,
              t => t.isin(TextPipeline.stopwords.map(lit(_)): _*))))
              .as("st"))
          .select(col("doc_id"),
            expr("(nd * 1000) div nt").as("s1"),
            expr("(st * 1000) div nt").as("s2"),
            (-abs(col("n_chars") - lit(300L))).as("s3"))
          // kept: 0.26 -> 0.32 s without, +12 % with a shared repartition
          .localCheckpoint()
        val j = t
          .join(broadcast(rankMap(t, "s1", "r1")), "s1")
          .join(broadcast(rankMap(t, "s2", "r2")), "s2")
          .join(broadcast(rankMap(t, "s3", "r3")), "s3")
          .withColumn("rrf",
            dec(lit(1.0) / (col("r1") + lit(60L)))
              + dec(lit(1.0) / (col("r2") + lit(60L)))
              + dec(lit(1.0) / (col("r3") + lit(60L))))
        val top = j.orderBy(col("rrf").desc, col("doc_id")).limit(50)
        val wr = Window.orderBy(col("rrf").desc, col("doc_id"))
        top.withColumn("rn", row_number().over(wr).cast("long"))
          .select(col("rn"), col("doc_id"), col("r1"), col("r2"),
            col("r3"), col("rrf").cast("double").as("rrf"))
          .orderBy("rn")
      })
    )

  override def oracle: Map[String, String] = Map(

    "q_bt_step" ->
      """WITH sq AS (SELECT event_type, lag(event_type) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id)
        |         AS prev_type
        |       FROM events),
        |mt AS (SELECT event_type AS winner, prev_type AS loser
        |       FROM sq
        |       WHERE prev_type IS NOT NULL AND prev_type <> event_type),
        |pa AS (SELECT least(winner, loser) AS ta,
        |         greatest(winner, loser) AS tb, COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN winner <= loser THEN 1 ELSE 0 END)
        |           AS BIGINT) AS wins_a
        |       FROM mt GROUP BY 1, 2),
        |dr AS (SELECT ta AS t, tb AS o, n, wins_a AS wn FROM pa
        |       UNION ALL
        |       SELECT tb, ta, n, n - wins_a FROM pa),
        |st AS (SELECT t, CAST(SUM(n) AS BIGINT) AS games,
        |         CAST(SUM(wn) AS BIGINT) AS wins
        |       FROM dr GROUP BY t),
        |s1 AS (SELECT t, games, wins,
        |         CAST(wins AS DOUBLE) * 2.0 / CAST(games AS DOUBLE)
        |           AS s1v
        |       FROM st),
        |tm AS (SELECT dr.t,
        |         CAST(CAST(dr.n AS DOUBLE) / (a.s1v + b.s1v)
        |           AS DECIMAL(18,4)) AS term
        |       FROM dr JOIN s1 a ON a.t = dr.t JOIN s1 b ON b.t = dr.o),
        |dn AS (SELECT t, SUM(term) AS den FROM tm GROUP BY t)
        |SELECT s1.t AS event_type, games, wins, s1v AS s1,
        |  CAST(wins AS DOUBLE) / CAST(den AS DOUBLE) AS s2,
        |  CAST(ROW_NUMBER() OVER (ORDER BY
        |    CAST(wins AS DOUBLE) / CAST(den AS DOUBLE) DESC, s1.t)
        |    AS BIGINT) AS rnk
        |FROM s1 JOIN dn ON dn.t = s1.t
        |ORDER BY event_type""".stripMargin,

    "q_resample_mix" -> {
      import XxhSql.{md5u, signed}
      s"""WITH dt AS (SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |       FROM documents),
         |sb AS (SELECT source, COUNT(*) AS docs_before,
         |         CAST(SUM(nt) AS BIGINT) AS tokens_before
         |       FROM dt GROUP BY source),
         |tt AS (SELECT CAST(SUM(tokens_before) AS BIGINT) AS total
         |       FROM sb),
         |sh AS (SELECT source, docs_before, tokens_before,
         |         CAST(tokens_before AS DOUBLE) / CAST(total AS DOUBLE)
         |           AS share,
         |         CAST(sqrt(CAST(tokens_before AS DOUBLE)
         |           / CAST(total AS DOUBLE)) AS DECIMAL(18,4)) AS p_raw
         |       FROM sb CROSS JOIN tt),
         |zz AS (SELECT SUM(p_raw) AS z FROM sh),
         |mx AS (SELECT source, docs_before, tokens_before, share,
         |         CAST(p_raw AS DOUBLE) / CAST(z AS DOUBLE) AS p_target,
         |         (CAST(p_raw AS DOUBLE) / CAST(z AS DOUBLE)) / share
         |           AS ratio
         |       FROM sh CROSS JOIN zz),
         |mr AS (SELECT MAX(ratio) AS max_ratio FROM mx),
         |ac AS (SELECT source, docs_before, tokens_before, share,
         |         p_target,
         |         CAST(floor(1000000.0 * (ratio / max_ratio)) AS BIGINT)
         |           AS thresh
         |       FROM mx CROSS JOIN mr),
         |kp AS (SELECT dt.source, COUNT(*) AS docs_after,
         |         CAST(SUM(dt.nt) AS BIGINT) AS tokens_after
         |       FROM dt JOIN ac ON ac.source = dt.source
         |       WHERE ((${signed(md5u("'rs|' || doc_id"))} % 1000000)
         |           + 1000000) % 1000000 < thresh
         |       GROUP BY dt.source),
         |tf AS (SELECT CAST(SUM(tokens_after) AS BIGINT) AS total_after
         |       FROM kp)
         |SELECT ac.source, docs_before,
         |  COALESCE(docs_after, 0) AS docs_after, tokens_before,
         |  COALESCE(tokens_after, 0) AS tokens_after, share, p_target,
         |  CAST(COALESCE(tokens_after, 0) AS DOUBLE)
         |    / CAST(total_after AS DOUBLE) AS share_after
         |FROM ac LEFT JOIN kp ON kp.source = ac.source CROSS JOIN tf
         |ORDER BY ac.source""".stripMargin
    },

    "q_quality_ensemble" ->
      """WITH sg AS (SELECT doc_id,
        |         (CAST(len(list_distinct(string_split(text, ' ')))
        |            AS BIGINT) * 1000)
        |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS s1,
        |         (CAST(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the', 'a', 'of', 'and', 'to')))
        |            AS BIGINT) * 1000)
        |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS s2,
        |         -abs(n_chars - 300) AS s3
        |       FROM documents),
        |b1 AS (SELECT s1, COUNT(*) AS cnt FROM sg GROUP BY s1),
        |r1 AS (SELECT s1, CAST(COALESCE(SUM(cnt) OVER (ORDER BY s1 DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + 1 AS BIGINT) AS r1 FROM b1),
        |b2 AS (SELECT s2, COUNT(*) AS cnt FROM sg GROUP BY s2),
        |r2 AS (SELECT s2, CAST(COALESCE(SUM(cnt) OVER (ORDER BY s2 DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + 1 AS BIGINT) AS r2 FROM b2),
        |b3 AS (SELECT s3, COUNT(*) AS cnt FROM sg GROUP BY s3),
        |r3 AS (SELECT s3, CAST(COALESCE(SUM(cnt) OVER (ORDER BY s3 DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + 1 AS BIGINT) AS r3 FROM b3),
        |jj AS (SELECT doc_id, r1.r1, r2.r2, r3.r3,
        |         CAST(CAST(1.0 AS DOUBLE) / (r1.r1 + 60)
        |           AS DECIMAL(18,4))
        |         + CAST(CAST(1.0 AS DOUBLE) / (r2.r2 + 60)
        |           AS DECIMAL(18,4))
        |         + CAST(CAST(1.0 AS DOUBLE) / (r3.r3 + 60)
        |           AS DECIMAL(18,4)) AS rrf
        |       FROM sg JOIN r1 USING (s1) JOIN r2 USING (s2)
        |            JOIN r3 USING (s3)),
        |tp AS (SELECT * FROM jj ORDER BY rrf DESC, doc_id LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id)
        |    AS BIGINT) AS rn,
        |  doc_id, r1, r2, r3, CAST(rrf AS DOUBLE) AS rrf
        |FROM tp ORDER BY rn""".stripMargin
  )
}

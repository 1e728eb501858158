package graft.tools

/** Dev utility (round 15, r14 ask #5): measure the positional PPJoin
  * filter's candidate pruning on q_ssjoin_prefix — counts the
  * prefix-lemma-only candidate set, the positionally-filtered set,
  * and the qualifying output pairs on `SPARK_GRAFT_SF_DIR`, printing
  * one JSON line. The round-14 adjudication measured 601,623
  * candidates : 147,839 outputs (4.1x) at sf0.1; this tool makes the
  * before/after reproducible instead of re-derived by hand.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.SsjoinCensus" }}}
  */
object SsjoinCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.local()
    // without it the first phase also pays the session's start-up
    graft.Session.warm(spark, sfDir)
    def timed(body: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = body
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val (pre, tPre) = timed(
      graft.operators.TextPipeline
        .ssjoinCandidates(spark, sfDir, positional = false).count())
    val (post, tPost) = timed(
      graft.operators.TextPipeline
        .ssjoinCandidates(spark, sfDir, positional = true).count())
    val (out, tOut) = timed(
      graft.SparkEntry.queries("q_ssjoin_prefix")(spark, sfDir).count())
    println(f"""{"dir":"$sfDir","cand_prefix_only":$pre,""" +
      f""""cand_positional":$post,"output_pairs":$out,""" +
      f""""excess_before":${pre.toDouble / out}%.2f,""" +
      f""""excess_after":${post.toDouble / out}%.2f,""" +
      f""""t_prefix":$tPre%.2f,"t_positional":$tPost%.2f,""" +
      f""""t_full_query":$tOut%.2f}""")
    spark.stop()
  }
}

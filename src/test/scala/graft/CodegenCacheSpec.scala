package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is sized in build.sbt's javaOptions so
  * that repeated queries reuse their compiled classes instead of evicting
  * each other's and recompiling them with Janino on every run.
  */
class CodegenCacheSpec extends SparkSuite {

  /** perfbench's `query_mix` set: one batch query per cost stratum of
    * perfbench/query_costs.json (the same for every seed). Together they
    * need more generated classes than Spark's default cache of 100.
    */
  private val mix = Seq("q_bartels_rank", "q_join_asof_tol", "q_psi_drift",
    "q_tpch_q7", "q_dedup_simhash", "q_anova_f", "q_peak_concurrency",
    "q_dedup_normalized")

  private val key = "spark.sql.codegen.cache.maxEntries"

  test("the session reports the codegen cache size set in build.sbt") {
    val set = (java.util.regex.Pattern.quote(s"-D$key=") + "(\\d+)").r
      .findFirstMatchIn(Files.readString(Paths.get("build.sbt")))
      .map(_.group(1))
    assert(set.isDefined, s"build.sbt sets no -D$key")
    assert(spark.conf.get(key) == set.get)
  }

  test("a second run of the query mix recompiles (almost) no class") {
    def runMix(): Unit = mix.foreach { q =>
      SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    runMix()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runMix()
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // At Spark's default size of 100 the second run recompiles 124
    // classes. A few may still compile here: AQE can plan q_tpch_q7 a
    // little differently from run to run (its join sides depend on which
    // query stage finishes first), and each new plan compiles its own
    // classes (0-4 per run, seen at sf0.001).
    assert(recompiled <= 12, s"$recompiled classes recompiled")
  }
}

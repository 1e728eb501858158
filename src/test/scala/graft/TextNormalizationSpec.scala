package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The `[a-z0-9 ]` normalization runs as [[functions.AlnumSquash]]: its
  * queries build without running anything, and the two-regex chain is
  * left only to the DuckDB oracle twins.
  */
class TextNormalizationSpec extends SparkSuite {

  test("building the normalization queries launches no Spark job") {
    // the one schema read of the source, so only the build is counted
    Tables.table(spark, sf, "documents")
    for (name <- Seq("q_dedup_normalized", "q_text_normalize"))
      assert(jobsDuring(q(name)) == 0, name)
  }

  test("the [^a-z0-9 ] regex is spelled only in oracle SQL code") {
    val main = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readAllLines(p).asScala
        .filterNot(l => Seq("//", "/*", "*").exists(l.trim.startsWith))
        .mkString("\n")).toSeq
    val cls = java.util.regex.Pattern.quote("[^a-z0-9 ]")
    // as a replace pattern with an empty replacement, in either quote
    val replace = (s"""["']$cls["']\\s*,\\s*["']["']""").r
    // DuckDB's global flag, which Spark's regexp_replace does not take
    val oracle = (s"'$cls'\\s*,\\s*''\\s*,\\s*'g'").r
    def count(r: scala.util.matching.Regex) =
      main.map { case (p, src) => p -> r.findAllMatchIn(src).size }
        .filter(_._2 > 0).toMap
    val replaces = count(replace)
    assert(replaces == count(oracle), "a regexp_replace on [^a-z0-9 ] " +
      s"outside oracle SQL: $replaces vs ${count(oracle)}")
    assert(replaces.values.sum >= 3, replaces)
    // nor as a Scala string literal anywhere
    assert(count(("\"" + cls + "\"").r).isEmpty)
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

/** The one measurement path: how `Measure` times a query and reports a
  * failure, the records `Bench` and `ScaleProbe` write through it, and
  * the JSON writer `Verify` shares with them.
  */
class MeasureSpec extends SparkSuite {

  private def keys(node: JsonNode): Seq[String] =
    node.fieldNames.asScala.toSeq

  test("a throwing query is reported as a failure, never as a timing") {
    val boom = new IllegalStateException("boom")
    assert(Measure.run("build throws")(throw boom) == Left(boom))
    // a filter, not a projection: count() prunes an unread column
    assert(Measure.run("action throws")(
      spark.range(1).toDF().where("raise_error('boom') IS NULL")).isLeft)
    val samples = Measure.sweep(Seq[(String, () => DataFrame)](
      "fails" -> (() => throw boom), "ok" -> (() => spark.range(3).toDF())), 2)
    assert(samples("fails").isEmpty && Measure.best(samples("fails")).isEmpty)
    assert(samples("ok").map(_.rows) == Vector(3L, 3L))
  }

  test("the build, and the jobs it launches, are inside the total") {
    val s = Measure.run("eager build") {
      spark.range(10).count()
      Thread.sleep(200)
      spark.range(5).toDF()
    }.toOption.get
    assert(s.rows == 5 && s.build >= 0.2 && s.total >= s.build, s)
  }

  test("Bench's loop on a 2-query subset writes the full record") {
    val dir = tmpDir("bench")
    try {
      val out = s"$dir/detail.json"
      val broken: (org.apache.spark.sql.SparkSession, String) => DataFrame =
        (_, _) => throw new IllegalStateException("broken")
      val line = Bench.run(spark, sf,
        Seq("q_agg_group", "q_tpch_q7").map(q => q -> SparkEntry.queries(q)) :+
          ("q_broken" -> broken), passes = 1, Some(out))
      val rec = Measure.mapper.readTree(new java.io.File(out))
      assert(keys(rec) == Seq("metric", "value", "unit", "queries",
        "samples", "failed", "sf", "passes", "git_sha"))
      assert(keys(rec.get("queries")) == Seq("q_agg_group", "q_tpch_q7"))
      assert(keys(rec.get("samples")) == Seq("q_agg_group", "q_tpch_q7"))
      val sample = rec.get("samples").get("q_agg_group").get(0)
      assert(keys(sample).toSet == Set("t", "build", "rows", "load"))
      assert(rec.get("failed").asScala.map(_.asText).toSeq == Seq("q_broken"))
      assert(rec.get("passes").asInt == 1 && rec.get("sf").asText == sf)
      assert(rec.get("git_sha").asText.nonEmpty)
      val printed = Measure.mapper.readTree(line)
      assert(keys(printed.get("queries")) == Seq("q_agg_group", "q_tpch_q7"))
      assert(printed.get("detail").asText == out)
    } finally cleanup(dir)
  }

  test("a subset run writes its record only where SPARK_GRAFT_OUT says") {
    val out = Some("elsewhere.json")
    assert(Measure.recordPath("BENCH.json", None, subset = false) ==
      Some("BENCH.json"))
    assert(Measure.recordPath("BENCH.json", None, subset = true) == None)
    assert(Measure.recordPath("BENCH.json", out, subset = true) == out)
    assert(Measure.recordPath("BENCH.json", out, subset = false) == out)
  }

  test("probeLevel on a 2-copy build keeps the growth-row shape and the " +
    "wedge row") {
    val dst = s"${Scratch.root}/graft_test/scaled-" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      ScaleProbe.buildScaled(spark, sf, dst, 2)
      val level = Measure.mapper.valueToTree[JsonNode](ScaleProbe.probeLevel(
        spark, sf, dst, 2, 1.3,
        Seq("q_graph_triangle", "q_graph_triangle_wedge"), 1))
      assert(keys(level) == Seq("threshold", "queries", "flagged"))
      val rows = level.get("queries")
      assert(keys(rows) == Seq("q_graph_triangle", "q_graph_triangle_wedge"))
      rows.elements.asScala.foreach { row =>
        assert(keys(row) == Seq("base", "scaled", "ratio", "exponent",
          "base_out", "scaled_out", "out_ratio", "exp_per_out"), row)
        assert(row.get("base_out").asLong > 0, row)
      }
      // the wedge spelling answers what the registered query answers
      def outs(q: String) =
        (rows.get(q).get("base_out").asLong, rows.get(q).get("scaled_out").asLong)
      assert(outs("q_graph_triangle_wedge") == outs("q_graph_triangle"))
    } finally cleanup(dst)
  }

  test("an oracle string with a tab, a quote, a backslash and \\u0001 " +
    "round-trips through Verify's writer") {
    val dir = tmpDir("oracle")
    try {
      val sql = "SELECT '\t' AS tab, '\"' AS quote, '\\' AS bs, '\u0001' AS c"
      val path = s"$dir/oracle_sql.json"
      Measure.writeJson(path, Map("q_x" -> sql))
      val text = Files.readString(Paths.get(path))
      assert(!text.stripSuffix("\n").exists(_ < ' '), text)
      assert(Measure.mapper.readTree(text).get("q_x").asText == sql)
    } finally cleanup(dir)
  }

  test("only Measure reads the clock to time a query") {
    // Spelled in two parts so this file does not match itself.
    val call = "System" + ".nanoTime"
    val found = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(call))
      .map(_.toString).toSet
    assert(found == Set("src/main/scala/graft/Measure.scala"))
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 ask #7: the probe-pool floor rule — "every non-streaming
  * query above 1.5 s at sf0.1 joins the uniform scale-probe pool" —
  * was applied by hand each round (q_graph_salton at round 16). This
  * spec makes it SELF-ENFORCING: it reads the committed BENCH_DETAIL
  * record (per-query MIN-of-passes — the quietest available estimate,
  * so a one-off stall storm cannot conscript a cheap query) and fails
  * when a query over the floor is absent from `ScaleProbe
  * .probeQueries`. Streaming twins are exempt: the uniform replication
  * build can only satisfy the replay builders' single-file constraint
  * for the one stateful twin already carried (q_streaming_ohlc); the
  * other twins' scale discipline is pinned by their batch twins and
  * the micro-batch plan pins (StreamingPlanPinSpec).
  *
  * The rule is a RATCHET: a loaded driver window that pushes a
  * borderline query over 1.5 s widens the pool at next round open —
  * it never shrinks it back, so membership cannot flap.
  */
class ProbePoolSpec extends AnyFunSuite {

  private val floor = 1.5

  private def benchDetail: Option[Map[String, Double]] = {
    val f = new java.io.File("BENCH_DETAIL.json")
    if (!f.exists()) None
    else {
      val queries = Measure.mapper.readTree(f).get("queries")
      if (queries == null || !queries.isObject)
        fail("BENCH_DETAIL.json has no \"queries\" object — the record " +
          "is malformed; regenerate it with a full bench run")
      Some(queries.properties.asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap)
    }
  }

  test("every non-streaming query above the 1.5 s floor in " +
    "BENCH_DETAIL is in the uniform probe pool") {
    val detail = benchDetail.getOrElse(
      fail("BENCH_DETAIL.json missing — the floor rule has no record " +
        "to enforce against; commit the bench record first"))
    assert(detail.size >= 519, s"record shrank: ${detail.size}")
    val pool = ScaleProbe.probeQueries.toSet
    val due = detail.filter { case (q, sec) =>
      sec > floor && !q.startsWith("q_streaming_")
    }.keySet
    val missing = (due -- pool).toSeq.sorted
    assert(missing.isEmpty,
      s"queries over the $floor s floor absent from ScaleProbe" +
        s".probeQueries (add them — the pool is a ratchet):\n  " +
        missing.map(q => f"$q (${detail(q)}%.2f s)").mkString("\n  "))
  }

  test("every pool entry has a 10x probe row in BENCH_SCALE " +
    "(admission without measurement is not admission)") {
    val f = new java.io.File("BENCH_SCALE.json")
    assert(f.exists(), "BENCH_SCALE.json missing")
    val txt = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // every probed query appears as a key somewhere in the artifact —
    // name containment suffices because pool names are unique (the
    // separator varies: ScaleProbe writes `":{"`, the merge tool's
    // json.dump writes `": {"`)
    val unprobed = ScaleProbe.probeQueries
      .filterNot(q => txt.contains("\"" + q + "\""))
    assert(unprobed.isEmpty,
      s"pool entries with no BENCH_SCALE row (run the 10x subset " +
        s"probe and merge): ${unprobed.mkString(", ")}")
  }

  test("the probe pool only names registered queries") {
    val registered = SparkEntry.queries.keySet
    val unknown = ScaleProbe.probeQueries.filterNot(registered)
    assert(unknown.isEmpty, s"pool entries not registered: $unknown")
    val tails = (ScaleProbe.tailQueries ++ ScaleProbe.graphTail)
      .filterNot(ScaleProbe.probeQueries.contains)
    assert(tails.isEmpty,
      s"tail entries must be pool members too: $tails")
  }
}

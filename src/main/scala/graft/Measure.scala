package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.DataFrame

/** The one timer of registered queries, for `Bench`, `ScaleProbe` and the
  * profiling tools, and the one JSON writer of their records (and of
  * `Verify`'s). A run builds the query, then runs the action; the action
  * is `count()`.
  */
object Measure {
  /** One successful run: `total` seconds from the start of the build to
    * the end of the action (written as `t`), `build` of them spent
    * building the query (its eager jobs included), the action's row count
    * and the 1-minute load average when it ended.
    */
  final case class Sample(@JsonProperty("t") total: Double, build: Double,
      rows: Long, load: Double)

  /** 1-minute load average from /proc/loadavg, or -1 where there is none.
    * Next to a slow sample it tells a storm-taxed reading from a real
    * regression.
    */
  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Builds `query` and runs the action once. A failure in either is
    * returned as the failure, never as a timing: a crash must not read as
    * a fast run.
    */
  def run(label: String)(query: => DataFrame): Either[Throwable, Sample] = {
    val t0 = System.nanoTime()
    val out = try {
      val df = query
      val built = System.nanoTime()
      val rows = df.count()
      Right(Sample((System.nanoTime() - t0) / 1e9, (built - t0) / 1e9, rows,
        loadavg()))
    } catch { case e: Throwable => Left(e) }
    out match {
      case Right(s) => System.err.println(f"[measure] $label%-40s " +
        f"${s.total}%8.2fs  build=${s.build}%.2fs  rows=${s.rows}  " +
        f"load=${s.load}%.1f")
      case Left(e) => System.err.println(s"[measure] FAILED $label: $e")
    }
    out
  }

  /** Runs every query once per pass, the whole list pass after pass, so a
    * stall storm rarely taxes the same query twice. Each query's
    * successful samples, in run order.
    */
  def sweep(queries: Seq[(String, () => DataFrame)], passes: Int,
      tag: String = "pass"): Map[String, Vector[Sample]] = {
    val runs = for (p <- 1 to passes; (name, query) <- queries)
      yield name -> run(s"$tag$p $name")(query())
    queries.map { case (name, _) =>
      name -> runs.collect { case (`name`, Right(s)) => s }.toVector
    }.toMap
  }

  /** The estimator of a query's cost under this host's asymmetric noise:
    * the fastest successful sample (noise can only add time). None when
    * every run failed.
    */
  def best(samples: Seq[Sample]): Option[Sample] = samples.minByOption(_.total)

  /** Min-of-passes fails when one stall storm spans the whole run (a
    * quiet 1 s query was once recorded at 42 s with two passes). So the
    * worst outliers are timed again, twice, outside the suite: a query
    * with no sample, or whose best is over max(2.5 s, 6x the median
    * best). At most six, so the retries cannot blow a harness's budget.
    * Returns `samples` with the retries appended.
    */
  def retryOutliers(queries: Seq[(String, () => DataFrame)],
      samples: Map[String, Vector[Sample]]): Map[String, Vector[Sample]] = {
    val bests = queries.map { case (n, _) => n -> best(samples(n)).map(_.total) }
    val sorted = bests.flatMap(_._2).sorted
    val med = if (sorted.isEmpty) 1.0 else sorted(sorted.size / 2)
    val cut = math.max(2.5, 6 * med)
    val outliers = bests.sortBy(-_._2.getOrElse(Double.MaxValue)).take(6)
      .collect { case (n, t) if t.forall(_ > cut) => n }.toSet
    val retried = sweep(queries.filter(q => outliers(q._1)), 2, "retry")
    samples.map { case (n, v) => n -> (v ++ retried.getOrElse(n, Vector.empty)) }
  }

  /** `v` rounded to `places` decimals, for records read by people. */
  def round(v: Double, places: Int = 2): Double = {
    val scale = math.pow(10, places)
    math.rint(v * scale) / scale
  }

  /** Where a main writes its record: `SPARK_GRAFT_OUT` if set, else
    * `committed` for a full run. A `SPARK_GRAFT_ONLY` subset run writes
    * the committed file never.
    */
  def recordPath(committed: String,
      out: Option[String] = sys.env.get("SPARK_GRAFT_OUT"),
      subset: Boolean = Session.only.nonEmpty): Option[String] =
    out.orElse(if (subset) None else Some(committed))

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `value` (Scala maps, sequences, options, case classes) as one line
    * of JSON, written to `path`.
    */
  def writeJson(path: String, value: Any): Unit = {
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value) + "\n")
    ()
  }
}

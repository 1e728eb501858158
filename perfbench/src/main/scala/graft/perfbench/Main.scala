package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ArchiveXmlSource
import graft.xml.XmlToParquetJob

/** One benchmark run in one JVM: set up a session, then run the
  * workload's operations one at a time (a closed loop with one client,
  * the driver thread), and write the raw measurements as JSON to
  * `--out`. Inputs are made and outputs are checked by `run.py`
  * around this program.
  *
  * With `--trace 1` the run is split: operations alternate between an
  * untraced and a traced execution, and the traced ones record spans
  * around each call into the library.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      warmup: Int, trace: Boolean, work: String, out: String,
      cores: Int, inputs: String, sf: String, checkSf: String,
      queries: Seq[String],
      includes: Seq[String], excludes: Seq[String], fileInfo: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def list(k: String) =
      m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("warmup", "1").toInt, m("trace") == "1", m("work"),
      m("out"), m("cores").toInt, m.getOrElse("inputs", ""),
      m.getOrElse("sf", ""), m.getOrElse("check-sf", ""), list("queries"),
      list("includes"),
      list("excludes"), m.get("file-info").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Record
    val xml = a.workload.startsWith("xml_")
    val (spark, trace) = setUp(a, rec, xml)
    try {
      if (xml) runXml(spark, trace, a, rec) else runQueries(spark, trace, a, rec)
    } finally {
      rec.spans = trace.spanMaps
      spark.stop()
    }
    rec.put("cores", a.cores)
    rec.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    rec.put("peak_rss_mb", peakRssMb())
    Files.writeString(Paths.get(a.out), rec.toJson)
  }

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .config("spark.local.dir", graft.Scratch.dir("spark-local"))
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session start, planner registration and the workload's warm-ups,
    * once, in this fresh JVM and from an empty scratch root: what a user
    * pays before the first operation.
    */
  private def setUp(a: Args, rec: Record, xml: Boolean)
      : (SparkSession, Trace) = {
    val t0 = System.nanoTime()
    val spark = session(a)
    val startNs = System.nanoTime() - t0
    val trace = new Trace(spark)
    trace.run = "setup"
    trace.setEnabled(a.trace)
    trace.recordClosed("session.start", t0, startNs)
    trace.span("session.warmup") {
      graft.plans.TopKPerKey.register(spark)
      if (!xml) {
        trace.span("session.bucketize") {
          graft.operators.Advanced.bucketize(spark, a.sf, "lineitem", "l_orderkey")
          graft.operators.Advanced.bucketize(spark, a.sf, "orders", "o_orderkey")
          graft.operators.Advanced.bucketize(spark, a.sf, "events", "user_id")
        }
        trace.span("session.formats")(graft.operators.Formats.prewarm(spark, a.sf))
        trace.span("session.truth")(
          graft.operators.TextPipeline.prewarmTruth(spark, a.sf))
      }
    }
    rec.setup += (System.nanoTime() - t0) / 1e9
    (spark, trace)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Result, wall seconds and process CPU seconds of `body`. */
  private def timed[T](body: => T): (T, Cost) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    (r, Cost((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }

  // ---------------------------------------------------------------- XML

  private def runXml(spark: SparkSession, trace: Trace, a: Args,
      rec: Record): Unit = {
    val xsd = graft.operators.XmlQueries.xsd
    val cfg = XmlToParquetJob.Config(a.includes, a.excludes, a.fileInfo)
    val inputs = Option(new File(a.inputs).listFiles()).toSeq.flatten
      .map(_.getPath).sorted
    rec.attempted = inputs.size
    trace.run = "xsd"
    trace.span("xml.compile_xsd")(XmlToParquetJob.compileXsd(xsd))
    var last: Option[String] = None
    var i = 0
    def pass(traced: Boolean, warmup: Boolean): Unit = {
      val out = s"${a.work}/out/pass$i"
      trace.run = s"pass$i"
      trace.setEnabled(traced)
      val (outs, cost) = timed(trace.span("xml.convert") {
        val outs = XmlToParquetJob.convert(spark, xsd, Seq(s"${a.inputs}/*"),
          out, cfg, onError = (f, e) => rec.fail(s"pass$i:$f", e))
        trace.attr("inputs", inputs.size)
        trace.attr("outputs", outs.size)
        outs
      })
      rec.passes += Pass(i, traced, warmup, cost, Map.empty)
      last.foreach(p => FileUtils.deleteQuietly(new File(p)))
      last = Some(out)
      i += 1
    }
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9
    // `--warmup` untimed passes, counted rather than timed so that a slow
    // host does not leave the JIT colder; the first, in a cold JVM, is
    // kept as a figure of its own. Then measured passes for `--seconds`,
    // at least three; traced runs measure (traced, untraced) pairs in
    // alternating order instead, at least two.
    while (i < a.warmup) pass(traced = false, warmup = true)
    val t0 = System.nanoTime()
    var n = 0
    while (n < (if (a.trace) 2 else 3) || since(t0) < a.seconds) {
      if (!a.trace) pass(traced = false, warmup = false)
      else {
        val tracedFirst = n % 2 == 0
        pass(traced = tracedFirst, warmup = false)
        pass(traced = !tracedFirst, warmup = false)
      }
      n += 1
    }
    if (a.trace) {
      trace.setEnabled(true)
      trace.run = "probe"
      val (plain, archives) = inputs.partition(f =>
        !(f.endsWith(".zip") || f.endsWith(".tar.gz") || f.endsWith(".tgz")))
      if (plain.nonEmpty) trace.span("xml.read_noop") {
        noop(XmlToParquetJob.read(spark, xsd, plain, cfg))
      }
      if (archives.nonEmpty) {
        trace.span("sources.read_noop") {
          noop(ArchiveXmlSource.read(spark, xsd, archives, cfg))
        }
        trace.span("sources.members") {
          trace.attr("members",
            ArchiveXmlSource.readMembers(spark, archives).count().toDouble)
        }
      }
    }
    rec.put("output_dir", last.getOrElse(""))
  }

  // ------------------------------------------------------------ queries

  private def runQueries(spark: SparkSession, trace: Trace, a: Args,
      rec: Record): Unit = {
    val all = graft.SparkEntry.queries
    val rng = new scala.util.Random(a.seed)
    def once(name: String, traced: Boolean): Option[Cost] = {
      trace.setEnabled(traced)
      try {
        val (_, cost) = timed(trace.span("query") {
          val fn = all.getOrElse(name,
            throw new NoSuchElementException(s"no registered query $name"))
          val df = trace.span("operators.build")(fn(spark, a.sf))
          if (traced) trace.span("planner.plan")(df.queryExecution.executedPlan)
          trace.span("exec.run")(noop(df))
        })
        Some(cost)
      } catch {
        case e: Throwable => rec.fail(name, e); None
      }
    }
    rec.attempted = a.queries.size
    // Untimed passes first: a query's first run in the JVM pays code
    // generation and JIT compilation that cost 1 to 3.5 times its warm
    // latency, and the second is still 10-20 % slower than later ones. A
    // query that fails there is not timed.
    val warm = mutable.LinkedHashMap.empty[String, Cost]
    for (q <- a.queries; cost <- once(q, traced = false)) warm(q) = cost
    val ok = a.queries.filter(warm.contains)
    rec.passes += Pass(0, traced = false, warmup = true,
      Cost.sum(warm.values), warm.toMap)
    def pass(i: Int, timed: Boolean): Unit = {
      val plain = mutable.LinkedHashMap.empty[String, Cost]
      val traced = mutable.LinkedHashMap.empty[String, Cost]
      trace.run = s"pass$i"
      for (q <- rng.shuffle(ok)) {
        val order = if (!a.trace || !timed) Seq(false)
          else if (rng.nextBoolean()) Seq(true, false) else Seq(false, true)
        for (t <- order; cost <- once(q, t)) (if (t) traced else plain)(q) = cost
      }
      rec.passes += Pass(i, traced = false, warmup = !timed,
        Cost.sum(plain.values), plain.toMap)
      if (a.trace && timed) rec.passes += Pass(i, traced = true,
        warmup = false, Cost.sum(traced.values), traced.toMap)
    }
    var i = 1
    while (i < QueryWarmups) { pass(i, timed = false); i += 1 }
    // Then timed passes over the set, each in a seeded order, for
    // `--seconds` and at least [[QueryPasses]]. With tracing, each query
    // runs traced and untraced, in an order decided by a seeded coin,
    // since the first of the two warms caches for the second.
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9
    val t0 = System.nanoTime()
    var n = 0
    while (n < QueryPasses || since(t0) < a.seconds) {
      pass(i, timed = true); i += 1; n += 1
    }
    // Untimed correctness pass at the scale the oracle twins are written
    // and gated at (some of them do not finish in DuckDB at the timed
    // scale): each query's result to Parquet, compared with its
    // oracle by `run.py`.
    trace.setEnabled(false)
    val verify = s"${a.work}/verify"
    for (q <- a.queries.distinct; fn <- all.get(q)) {
      try fn(spark, a.checkSf).coalesce(1).write.mode("overwrite")
        .parquet(s"$verify/$q")
      catch { case e: Throwable => rec.fail(s"verify:$q", e) }
    }
    val oracle = graft.SparkEntry.oracleSql
    new File(verify).mkdirs()
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"),
      Record.json.writeValueAsString(
        a.queries.distinct.flatMap(q => oracle.get(q).map(q -> _)).toMap),
      StandardCharsets.UTF_8)
    rec.put("verify_dir", verify)
  }

  /** Untimed passes over the query set, the first included. */
  private val QueryWarmups = 2
  /** Timed passes over the query set, at least; each query is reported
    * by its best run, so that a run disturbed by the host or by a JIT
    * compilation in the background does not count.
    */
  private val QueryPasses = 3

  /** The JVM's peak resident memory (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

final case class Cost(wallS: Double, cpuS: Double)

object Cost {
  def sum(cs: Iterable[Cost]): Cost =
    Cost(cs.map(_.wallS).sum, cs.map(_.cpuS).sum)
}

/** One pass over the workload's operations: its total cost, and for
  * queries the cost of each.
  */
final case class Pass(index: Int, traced: Boolean, warmup: Boolean,
    cost: Cost, ops: Map[String, Cost]) {
  def toMap: Map[String, Any] = Map("index" -> index, "traced" -> traced,
    "warmup" -> warmup, "wall_s" -> cost.wallS, "cpu_s" -> cost.cpuS,
    "latencies" -> ops.map { case (k, v) => k -> v.wallS },
    "cpu" -> ops.map { case (k, v) => k -> v.cpuS })
}

/** The run's raw measurements, written as one JSON object. */
final class Record {
  val setup = mutable.ArrayBuffer.empty[Double]
  val passes = mutable.ArrayBuffer.empty[Pass]
  var spans: Seq[Map[String, Any]] = Nil
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Distinct operations: input files, or queries of the set. */
  var attempted = 0
  private val fields = mutable.LinkedHashMap.empty[String, Any]

  def put(k: String, value: Any): Unit = fields(k) = value
  def fail(op: String, e: Throwable): Unit = synchronized {
    failures += (op -> s"${e.getClass.getName}: ${e.getMessage}")
  }

  def toJson: String = Record.json.writeValueAsString(Map(
    "setup_s" -> setup.toSeq, "passes" -> passes.map(_.toMap).toSeq,
    "failures" -> failures.map { case (o, m) => Seq(o, m) }.toSeq,
    "attempted" -> attempted, "spans" -> spans) ++ fields)
}

object Record {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

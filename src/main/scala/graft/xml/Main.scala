package graft.xml

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** CLI driver with the reference's flag surface
  * (xml_to_parquet.py:12-72):
  *
  * {{{
  * graft.xml.Main -x schema.xsd [-t target_dir] [-p inc1,inc2]
  *   [-e exc1,exc2] [-m N] [-f] [-d] [-v LEVEL] [-l logfile]
  *   [-b block_size] input1.xml input2.zip ...
  * }}}
  *
  *   - `-x` XSD file (required); `-t` target directory (default: each
  *     input's own directory, like the reference); `-p`/`-e`
  *     comma-separated XPath include/exclude lists; `-f` adds the
  *     file_info metadata struct; `-d` deletes each source after its
  *     successful conversion.
  *   - `-m N` (reference: worker-process count) maps to Spark local
  *     parallelism — ignored when a master is already configured (on a
  *     cluster, parallelism is the cluster's).
  *   - `-v` maps to the Spark log level; `-l` appends a plain-text log.
  *   - `-b` (per-process memory budget) is accepted and ignored: Spark's
  *     unified memory manager owns executor memory (SURVEY.md §2.A X2).
  */
object Main {

  final case class CliArgs(
      xsd: Option[String] = None,
      target: Option[String] = None,
      includes: Seq[String] = Nil,
      excludes: Seq[String] = Nil,
      multi: Int = 1,
      log: Option[String] = None,
      verbose: String = "WARN",
      delete: Boolean = false,
      fileInfo: Boolean = false,
      inputs: Seq[String] = Nil)

  private def splitCsv(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  @annotation.tailrec
  private[xml] def parse(args: List[String], acc: CliArgs = CliArgs())
      : CliArgs = args match {
    case Nil => acc
    case ("-x" | "--xsd_file") :: v :: rest =>
      parse(rest, acc.copy(xsd = Some(v)))
    case ("-t" | "--target_path") :: v :: rest =>
      parse(rest, acc.copy(target = Some(v)))
    case ("-p" | "--xpaths") :: v :: rest =>
      parse(rest, acc.copy(includes = splitCsv(v)))
    case ("-e" | "--excludepaths") :: v :: rest =>
      parse(rest, acc.copy(excludes = splitCsv(v)))
    case ("-m" | "--multi") :: v :: rest =>
      parse(rest, acc.copy(multi = v.toInt))
    case ("-l" | "--log") :: v :: rest =>
      parse(rest, acc.copy(log = Some(v)))
    case ("-v" | "--verbose") :: v :: rest =>
      parse(rest, acc.copy(verbose = v))
    case ("-b" | "--block_size") :: _ :: rest =>
      parse(rest, acc) // delegated to Spark's memory manager
    case ("-d" | "--delete_xml") :: rest =>
      parse(rest, acc.copy(delete = true))
    case ("-f" | "--file_info") :: rest =>
      parse(rest, acc.copy(fileInfo = true))
    case in :: rest =>
      parse(rest, acc.copy(inputs = acc.inputs :+ in))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val xsdFile = args.xsd.getOrElse {
      System.err.println("error: -x/--xsd_file is required")
      sys.exit(2)
    }
    if (args.inputs.isEmpty) {
      System.err.println("error: no input files given")
      sys.exit(2)
    }
    // Reference parity (convert_xml_to_parquet.py:459-461): an explicit
    // -t that doesn't exist fails CLEANLY before any Spark work — not
    // with a stack trace mid-run after paying XSD compile + read.
    targetError(args.target).foreach { msg =>
      System.err.println(msg)
      sys.exit(1)
    }
    // fork-free local writes (graft.io.NioLocalFileSystem): spark-submit
    // does not pass build.sbt's JVM options
    val builder = SparkSession.builder().appName("xml-to-parquet")
      .config(graft.io.NioLocalFileSystem.SparkConfs)
    if (!sys.props.contains("spark.master") &&
        !sys.env.contains("SPARK_MASTER"))
      builder.master(s"local[${args.multi}]")
        .config("spark.sql.shuffle.partitions", args.multi.toString)
    // Only stop a session this invocation created: when embedded in a
    // larger app (or test harness) with a live session, borrow it.
    val pre = SparkSession.getDefaultSession
    val spark = builder.getOrCreate()
    try {
      if (pre.isEmpty) spark.sparkContext.setLogLevel(args.verbose)
      run(spark, args)
    } finally if (pre.isEmpty) spark.stop()
  }

  /** `-t` validation, separated from `main` so the exit path is
    * spec-testable: Some(message) when the target directory is absent
    * (or is a plain file), None when writable conversion can proceed.
    * Needs no SparkSession — only the Hadoop filesystem of the path.
    */
  private[xml] def targetError(target: Option[String]): Option[String] =
    target.flatMap { t =>
      try {
        val p = new Path(t)
        // Only the local scheme is decidable before the session exists:
        // a remote target's filesystem (defaultFS, credentials) lives in
        // the job's Hadoop conf, which spark-submit supplies at session
        // build — probing it with a bare Configuration here would
        // wrongly reject (or stack-trace on) valid targets. Defer those
        // to the job's own failure path; the reference's check is a
        // local os.path.isdir (convert_xml_to_parquet.py:459-461), so
        // schemeless paths keep the local-parity check.
        if (Option(p.toUri.getScheme).exists(_ != "file")) None
        else {
          // the session's file system class: Hadoop caches the first
          // `file:` file system made in this JVM for the session too
          val fs = p.getFileSystem(graft.io.NioLocalFileSystem.hadoopConf())
          if (!fs.exists(p))
            Some(s"error: target path '$t' does not exist")
          else if (!fs.getFileStatus(p).isDirectory)
            Some(s"error: target path '$t' is not a directory")
          else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Conversion body, separated from session lifecycle for testability.
    * Returns the written output paths.
    */
  private[xml] def run(spark: SparkSession, args: CliArgs): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val xsdPath = new Path(args.xsd.get)
    val xsdContent = {
      val in = xsdPath.getFileSystem(hconf).open(xsdPath)
      try new String(in.readAllBytes, java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val cfg = XmlToParquetJob.Config(
      includes = args.includes, excludes = args.excludes,
      fileInfo = args.fileInfo)
    def logLine(msg: String): Unit = {
      args.log.foreach { lf =>
        val w = new java.io.FileWriter(lf, true)
        try w.write(msg + "\n") finally w.close()
      }
      System.err.println(msg)
    }
    // Per-file failures land in the log AND on stderr, and the worklist
    // continues — the reference's error_callback behavior
    // (convert_xml_to_parquet.py:510-524).
    val onError: (String, Throwable) => Unit =
      (f, e) => logLine(s"error converting $f: ${e.getMessage}")
    // Reference semantics: explicit -t writes everything there; without
    // it each output lands next to its input
    // (convert_xml_to_parquet.py:505-508) — one convert batch per input
    // directory, in order of first appearance.
    val batches = args.target match {
      case Some(t) => Seq(t -> args.inputs)
      case None =>
        def dir(in: String) =
          Option(new Path(in).getParent).map(_.toString).getOrElse(".")
        val byDir = args.inputs.groupBy(dir)
        args.inputs.map(dir).distinct.map(d => d -> byDir(d))
    }
    val written = batches.flatMap { case (dir, ins) =>
      XmlToParquetJob.convert(spark, xsdContent, ins, dir, cfg,
        deleteSource = args.delete, onError = onError)
    }
    written.foreach(o => logLine(s"wrote $o"))
    written
  }
}

package graft.xml

import java.net.URI

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.xml.XSDToSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** XSD-typed XML -> Parquet conversion, the reference engine's core
  * surface (convert_xml_to_parquet.py:251-410), re-expressed Spark-first:
  *
  *   - XSD compiled ONCE on the driver via Spark's `XSDToSchema` and
  *     applied as the reader's fixed schema (the reference recompiles per
  *     file, convert_xml_to_parquet.py:274; and lets Arrow re-infer types
  *     per document — we deliberately fix the schema so every output file
  *     is schema-identical, SURVEY.md §1.2);
  *   - streaming parse via the built-in StaxXmlParser (`format("xml")`),
  *     the pull-parser analog of the reference's ET.iterparse loop
  *     (convert_xml_to_parquet.py:193-224);
  *   - `mode=PERMISSIVE` mirrors `validation="skip"` (typed decode, no
  *     constraint enforcement) with per-record error isolation;
  *   - file-info metadata from Spark's hidden `_metadata` struct
  *     (reference: convert_xml_to_parquet.py:228-229,386-393);
  *   - one Parquet output per input XML (reference sink K1, naming
  *     `<base>.xml.parquet`, convert_xml_to_parquet.py:397,489-508)
  *     written by a CONSTANT number of Spark jobs per `convert` call: one
  *     `partitionBy` write for all plain/gzip inputs, one for all
  *     archives, then driver-side renames of the partition directories —
  *     no per-file job scheduling, so the reference's 10,000-file batch
  *     is two writes, not 10,000.
  */
object XmlToParquetJob {

  final case class Config(
      includes: Seq[String] = Nil,
      excludes: Seq[String] = Nil,
      fileInfo: Boolean = false,
      // reference testzip parity: reject a whole archive on any corrupt
      // member (default keeps members read before the corruption)
      strictArchives: Boolean = false)

  /** Compile an XSD (content string) and locate the root element; returns
    * (rootElementName, contentStructType). XSDToSchema emits one field
    * per global element; the document root is the complex one (or the
    * requested `rowTag`).
    *
    * Memoized on (content-digest, rowTag): the worklist loop compiles
    * the SAME unchanged schema once per input file (plus the fail-fast
    * probe) — for the reference's 10,000-file batches that is 10,000
    * redundant driver-side schema compiles without this cache. Failures
    * are not cached (a throwing compute stores nothing), so the
    * fail-fast probe still throws per attempt. BOUNDED: keyed by MD5
    * digest (not the full XSD text) and capped LRU-style at 64 schemas,
    * so a long-lived driver cycling through many evolving XSDs cannot
    * grow the cache without limit.
    */
  private val XsdCacheMax = 64
  private val xsdCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Option[String]),
        (String, StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Option[String]),
            (String, StructType)]): Boolean = size() > XsdCacheMax
    })

  def compileXsd(xsdContent: String, rowTag: Option[String] = None)
      : (String, StructType) = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(xsdContent.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val key = (digest, rowTag)
    val hit = xsdCache.get(key)
    if (hit != null) hit
    else {
      // compile OUTSIDE the map lock (XSD compile is the expensive
      // part); a racing duplicate compile is harmless and idempotent
      val compiled = compileXsdUncached(xsdContent, rowTag)
      xsdCache.put(key, compiled)
      compiled
    }
  }

  private def compileXsdUncached(xsdContent: String, rowTag: Option[String])
      : (String, StructType) = {
    val all = XSDToSchema.read(xsdContent)
    val rootField = rowTag match {
      case Some(t) => all.fields.find(_.name == t).getOrElse(
        throw new IllegalArgumentException(s"no global element <$t> in XSD"))
      case None => all.fields.find(_.dataType.isInstanceOf[StructType])
        .getOrElse(throw new IllegalArgumentException(
          "XSD has no complex-typed global element"))
    }
    rootField.dataType match {
      case st: StructType => (rootField.name, st)
      case other => throw new IllegalArgumentException(
        s"root element <${rootField.name}> has simple type $other; " +
          "a document root must be complex (reference rejects likewise)")
    }
  }

  /** Parse options shared by the file reader and the archive members'
    * `from_xml`: attributes as `_<attr>` (renamed by [[XmlShaper]]),
    * namespaces ignored, empty text as null, malformed records isolated.
    */
  private[graft] val ParseOptions: Map[String, String] = Map(
    "attributePrefix" -> "_",
    "ignoreNamespace" -> "true",
    "nullValue" -> "",
    "mode" -> "PERMISSIVE")

  /** File name of a `_metadata.file_path` URI, decoded with URI
    * semantics (`my%20file%2B.xml` -> `my file+.xml`); `url_decode`
    * would also turn a literal `+` into a space.
    */
  private val fileName = udf((uri: String) => new Path(new URI(uri)).getName)

  /** The one file reader: parse `paths` with the XSD-fixed schema, shape
    * each document, and carry `extra` columns (computed from the raw
    * rows, so the hidden `_metadata` struct is in scope) through the
    * shaping. `file_info` comes first when configured; its `name` is the
    * decoded file name, as the reference's `os.path.basename` reports it.
    */
  private def readFiles(spark: SparkSession, xsdContent: String,
      paths: Seq[String], cfg: Config, rowTag: Option[String],
      extra: Seq[(String, Column)]): DataFrame = {
    val (root, contentType) = compileXsd(xsdContent, rowTag)
    val parsed = spark.read.format("xml")
      .option("rowTag", root)
      .options(ParseOptions)
      // Spark's default, pinned: each file is read whole by one task, so
      // [[convert]] writes each output from one task, as one data file,
      // without a shuffle (line-split reads can spread a file's rows
      // over several tasks)
      .option("multiLine", "true")
      .schema(contentType)
      .load(paths: _*)
    val fileInfo =
      if (cfg.fileInfo) Seq("file_info" -> struct(
        fileName(col("_metadata.file_path")).as("name"),
        col("_metadata.file_size").as("size"),
        date_format(col("_metadata.file_modification_time"),
          XmlShaper.DateFormat).as("mtime")))
      else Nil
    val passThrough = fileInfo ++ extra
    XmlShaper.shapeDocument(
      parsed.select(col("*") +: passThrough.map { case (n, c) => c.as(n) }: _*),
      root, cfg.includes, cfg.excludes, passThrough.map(_._1))
  }

  /** Read + shape XML documents: one row per document, a single
    * root-named struct column (plus `file_info` when configured).
    */
  def read(spark: SparkSession, xsdContent: String, paths: Seq[String],
      cfg: Config = Config(), rowTag: Option[String] = None): DataFrame =
    readFiles(spark, xsdContent, paths, cfg, rowTag, Nil)

  /** Reference base naming: strip `.gz`, `.tar`, `.zip`, `.xml` suffixes
    * in that order (convert_xml_to_parquet.py:489-505; `.tgz` added as
    * our extension — the reference only recognizes `.tar.gz`).
    */
  def outputBase(inputFile: String): String =
    Seq(".gz", ".tgz", ".tar", ".zip", ".xml")
      .foldLeft(new Path(inputFile).getName)((b, s) => b.stripSuffix(s))

  /** Reference output naming for a plain (or single-member gzip) input:
    * `<base>.xml.parquet` (convert_xml_to_parquet.py:397,505).
    */
  def outputName(inputFile: String): String =
    s"${outputBase(inputFile)}.xml.parquet"

  private def isArchive(f: String): Boolean = {
    val l = f.toLowerCase(java.util.Locale.ROOT)
    l.endsWith(".zip") || l.endsWith(".tar.gz") || l.endsWith(".tgz")
  }

  /** Routing columns of a batch write: the input's index in its batch
    * and, for archives, the member name.
    */
  private[graft] val Route = "__route"
  private[graft] val Member = "__member"

  /** Exact reference parity sink: one Parquet output per input XML file,
    * named `<base>.xml.parquet`; archive inputs (zip / tar.gz) emit one
    * Parquet PER MEMBER named `<base>.<member>.parquet`
    * (convert_xml_to_parquet.py:318,351). Returns the written output
    * paths in worklist order.
    *
    * Job shape: the plain/gzip inputs are ONE batch — one read routed by
    * source file and one `partitionBy` write into a staging directory
    * under `targetDir`, one Spark job — and the archives are another,
    * routed by archive and member. Each file is read whole by one task,
    * whatever the `rowTag`, so every output's rows already come from one
    * task and no shuffle precedes the writes. After both writes, one pass
    * in worklist order renames each partition directory to its reference
    * name (a metadata-only driver op), so a call costs the same two Spark
    * jobs for one input or ten thousand, and every output holds exactly
    * one data file. When two inputs map to the same output name the later
    * one in worklist order wins, plain or archive. An input that parses
    * to no documents (an empty file, no root element) still gets a
    * zero-row output with the fixed schema, copied from one empty write.
    *
    * Per-file failure isolation mirrors the reference's error_callback
    * (convert_xml_to_parquet.py:510-524, :537-539): when a batch write
    * throws, each of its inputs is retried alone through the same batch
    * path, and only the inputs that still fail (or whose renames fail)
    * are reported through `onError` (default: stderr) — one corrupt
    * document in a 10,000-file batch costs one output, not the batch.
    * Failed inputs are never deleted.
    *
    * `deleteSource` mirrors the reference's `-d` flag
    * (convert_xml_to_parquet.py:407-408): an input is deleted only
    * after its outputs are successfully written.
    */
  def convert(spark: SparkSession, xsdContent: String, inputs: Seq[String],
      targetDir: String, cfg: Config = Config(),
      rowTag: Option[String] = None,
      deleteSource: Boolean = false,
      onError: (String, Throwable) => Unit = (f, e) =>
        System.err.println(s"error converting $f: ${e.getMessage}"))
      : Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // The XSD must compile for ANY file to convert — a broken schema is
    // a whole-run error, not a per-file one, and fails fast here before
    // the batch isolation swallows it once per input.
    compileXsd(xsdContent, rowTag)
    // glob-expand + dedup, the reference's worklist build
    // (convert_xml_to_parquet.py:464-475)
    val files = inputs.flatMap { in =>
      val p = new Path(in)
      val fs = p.getFileSystem(hconf)
      Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath.toString))
        .getOrElse(Seq(in))
    }.distinct
    val (archives, plain) = files.partition(isArchive)
    val staging = new Path(targetDir,
      s".graft_stage_${java.util.UUID.randomUUID.toString.take(8)}")
    val fs = staging.getFileSystem(hconf)
    val batchIds = Iterator.from(0)
    def isolated(batch: Seq[String]): Map[String, Seq[(Path, String)]] =
      try stageBatch(spark, xsdContent, batch,
        new Path(staging, batchIds.next().toString), cfg, rowTag)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (batch.size == 1) { onError(batch.head, e); Map.empty }
          else batch.flatMap(f => isolated(Seq(f))).toMap
      }
    try {
      val staged = Seq(plain, archives).filter(_.nonEmpty)
        .flatMap(isolated).toMap
      // one rename pass over both batches in worklist order: a later
      // input overwrites an earlier one's output of the same name
      files.filter(staged.contains).flatMap { f =>
        try {
          val outs = staged(f).map { case (src, name) =>
            val dest = new Path(targetDir, name)
            fs.delete(dest, true)
            if (!fs.rename(src, dest))
              throw new java.io.IOException(s"cannot rename $src to $dest")
            dest.toString
          }
          if (deleteSource) {
            val p = new Path(f)
            p.getFileSystem(hconf).delete(p, false)
          }
          outs
        } catch { case scala.util.control.NonFatal(e) => onError(f, e); Nil }
      }
    } finally fs.delete(staging, true)
  }

  /** One batch of [[convert]]: plain/gzip inputs or archives, never
    * both. Runs the batch's single routed write into `staging` and
    * returns, per input, each staged output directory with its
    * reference name. Any failure throws, and [[convert]] isolates it.
    */
  private def stageBatch(spark: SparkSession, xsdContent: String,
      files: Seq[String], staging: Path, cfg: Config,
      rowTag: Option[String]): Map[String, Seq[(Path, String)]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val archives = isArchive(files.head)
    // The route is the input's index in `files`, so a partition directory
    // is `__route=<i>` however long the input path is. Sources are
    // matched to inputs as qualified Hadoop paths, never as strings:
    // `_metadata.file_path` is a URI (`my%20file.xml`), the archive
    // listing's path and the glob-expanded inputs are not. Each input is
    // qualified by its own file system, which need not be the target's.
    val index = spark.sparkContext.broadcast(files.zipWithIndex.map {
      case (f, i) =>
        val p = new Path(f)
        p.getFileSystem(hconf).makeQualified(p).toString -> i
    }.toMap)
    val route = udf { (source: String) =>
      val p = if (archives) new Path(source) else new Path(new URI(source))
      index.value.getOrElse(p.toString, -1)
    }
    val (shaped, keys) =
      if (archives)
        (graft.sources.ArchiveXmlSource.read(spark, xsdContent, files, cfg,
          rowTag, route = true).withColumn(Route, route(col(Route))),
          Seq(Route, Member))
      else
        (readFiles(spark, xsdContent, files, cfg, rowTag,
          Seq(Route -> route(col("_metadata.file_path")))), Seq(Route))
    val fs = staging.getFileSystem(hconf)
    // partition directory name -> decoded partition value
    def value(dir: Path, key: String): String = ExternalCatalogUtils
      .unescapePathName(dir.getName.stripPrefix(s"$key="))
    def partitions(dir: Path, key: String): Seq[Path] =
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith(s"$key="))
    try {
      // one write, no shuffle: every input (every member) is read by one
      // task (see `readFiles`), so it lands in one data file
      shaped.write.partitionBy(keys: _*).parquet(staging.toString)
      val routed = partitions(staging, Route)
        .map(dir => value(dir, Route).toInt -> dir).toMap
      // a partition no input claims would be dropped with the staging
      // directory: fail loudly instead
      if (!routed.keySet.subsetOf(files.indices.toSet))
        throw new IllegalStateException(
          s"rows of a source matching no input of $files were written")
      lazy val empty = {
        val dir = new Path(staging, "__empty")
        shaped.drop(keys: _*).limit(0).write.parquet(dir.toString)
        dir
      }
      files.zipWithIndex.map { case (f, i) =>
        val outs =
          if (archives) routed.get(i).toSeq.flatMap(partitions(_, Member))
            .map(m => m -> s"${outputBase(f)}.${value(m, Member)}.parquet")
            .sortBy(_._2)
          else routed.get(i) match {
            case Some(dir) => Seq(dir -> outputName(f))
            case None =>
              // parsed to no documents: still one output per input,
              // zero rows under the fixed schema
              val copy = new Path(staging, s"__empty$i")
              FileUtil.copy(fs, empty, fs, copy, false, hconf)
              Seq(copy -> outputName(f))
          }
        f -> outs
      }.toMap
    } finally index.destroy()
  }
}

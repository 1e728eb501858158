package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.xml.{XmlShaper, XmlToParquetJob}
import graft.xml.XmlToParquetJob.Config

/** Container ingestion: zip / tar.gz / gz archives of XML documents
  * (reference sources S3-S5, convert_xml_to_parquet.py:303-383),
  * re-expressed Spark-first: a `binaryFile` listing (content column
  * pruned — no archive bytes cross the scan) -> per-task streaming member
  * expansion over a Hadoop `FSDataInputStream` -> `from_xml` with the
  * XSD-fixed schema -> the same shaping as plain files.
  *
  * Scale notes: archives are opened once per task and members are decoded
  * ONE AT A TIME from the compressed stream, so peak memory is the
  * largest single member, never the whole archive (archives well past the
  * 2 GB JVM array limit are fine; a single member must still fit in one
  * String, which is also the reference's bound — it materializes one
  * member tree at a time). A corrupt archive yields the members read
  * before the corruption and skips the rest by default; strict mode
  * (`Config.strictArchives`) instead rejects the whole archive after a
  * validation pass, exactly the reference's `testzip()` rule
  * (convert_xml_to_parquet.py:333-338) at the same two-reads cost. One
  * archive is one task in both systems — at fleet scale,
  * archives >> cores gives full parallelism; a single multi-TB archive is
  * a straggler in both.
  */
object ArchiveXmlSource {

  /** One extracted archive member. */
  final case class Member(archive: String, name: String, size: Long,
      xml: String)

  /** Lazy, self-closing member iterator: `fetch` returns the next member
    * or None at end-of-archive; IO/format errors truncate the iteration
    * (keep members already read, skip the rest), close the stream, and
    * set `failed` — strict mode uses that flag to reject the archive.
    */
  private final class MemberIterator(in: java.io.Closeable,
      fetch: () => Option[Member])
      extends Iterator[Member] with java.io.Closeable {
    /** True once an IO/format error truncated the iteration. */
    var failed: Boolean = false
    /** Idempotent; also safe to call mid-iteration (task kill / limit
      * abandoning the iterator) — the underlying archive streams
      * tolerate a second close.
      */
    override def close(): Unit =
      try in.close() catch { case _: java.io.IOException => () }
    private var nxt: Option[Member] = advance()
    private def advance(): Option[Member] =
      try {
        val m = fetch()
        if (m.isEmpty) in.close()
        m
      } catch {
        case _: java.io.IOException | _: RuntimeException =>
          failed = true
          try in.close() catch { case _: java.io.IOException => () }
          None
      }
    override def hasNext: Boolean = nxt.isDefined
    override def next(): Member = {
      val m = nxt.get; nxt = advance(); m
    }
  }

  /** Stream the members of one archive. Like the reference, every
    * non-directory member is treated as an XML document regardless of its
    * name (convert_xml_to_parquet.py:308,336 iterate all members).
    */
  def memberIterator(path: String, open: () => InputStream)
      : Iterator[Member] = {
    val lower = path.toLowerCase(Locale.ROOT)
    if (lower.endsWith(".zip")) {
      val zin = new java.util.zip.ZipInputStream(
        new BufferedInputStream(open()))
      new MemberIterator(zin, () => {
        var e = zin.getNextEntry
        while (e != null && e.isDirectory) e = zin.getNextEntry
        Option(e).map { entry =>
          val content = new String(zin.readAllBytes, StandardCharsets.UTF_8)
          Member(path, entry.getName, content.length.toLong, content)
        }
      })
    } else if (lower.endsWith(".tar.gz") || lower.endsWith(".tgz")) {
      val tin = new TarArchiveInputStream(new GzipCompressorInputStream(
        new BufferedInputStream(open())))
      new MemberIterator(tin, () => {
        var e = tin.getNextEntry
        while (e != null && e.isDirectory) e = tin.getNextEntry
        Option(e).map { entry =>
          val content = new String(tin.readAllBytes, StandardCharsets.UTF_8)
          Member(path, entry.getName, content.length.toLong, content)
        }
      })
    } else if (lower.endsWith(".gz")) {
      val gin = new GzipCompressorInputStream(
        new BufferedInputStream(open()))
      var done = false
      new MemberIterator(gin, () =>
        if (done) None
        else {
          done = true
          val content = new String(gin.readAllBytes, StandardCharsets.UTF_8)
          val member = new org.apache.hadoop.fs.Path(path).getName
            .stripSuffix(".gz")
          Some(Member(path, member, content.length.toLong, content))
        })
    } else Iterator.empty
  }

  /** Scan archives -> one row per member (distributed, streaming
    * expansion). The `binaryFile` scan is used only as a Hadoop-glob file
    * LISTING (selecting `path` prunes the content column); each task then
    * re-opens its archive as a stream.
    *
    * `strict = true` reproduces the reference's whole-archive `testzip`
    * rule (convert_xml_to_parquet.py:333-338): a validation pass streams
    * the full archive first, and ANY corruption rejects every member of
    * that archive (the lenient default keeps members read before the
    * corruption). Same two-reads cost profile as the reference; per-task,
    * so validation parallelizes with everything else.
    */
  def readMembers(spark: SparkSession, paths: Seq[String],
      strict: Boolean = false): DataFrame = {
    import spark.implicits._
    val bcConf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val files = spark.read.format("binaryFile").load(paths: _*)
      .select("path").as[String]
    files.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      def mk() =
        memberIterator(p, () => hp.getFileSystem(bcConf.value.value).open(hp))
      val rejected = strict && {
        mk() match {
          case v: MemberIterator =>
            while (v.hasNext) v.next() // full CRC/format validation scan
            v.failed
          case _ => false
        }
      }
      if (rejected) Iterator.empty
      else {
        val it = mk()
        // If the task abandons the iterator early (limit, kill, failure)
        // the archive stream and its file descriptor would leak — close
        // it at task completion (no-op if iteration already closed it).
        it match {
          case c: java.io.Closeable =>
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => c.close()))
          case _ => ()
        }
        it
      }
    }.toDF()
  }

  /** Parse + shape archive members with the XSD-fixed schema: same output
    * shape as plain-file conversion (include/exclude pruning honored),
    * plus `file_info` (member name/size/archive) when requested —
    * mirroring the reference's zip/tar entry metadata
    * (convert_xml_to_parquet.py:310-314,339-347). `route = true`
    * additionally retains the archive path and the member name as the
    * routing columns of [[XmlToParquetJob.convert]]'s batch write.
    */
  def read(spark: SparkSession, xsdContent: String, paths: Seq[String],
      cfg: Config = Config(), rowTag: Option[String] = None,
      route: Boolean = false): DataFrame = {
    val (root, contentType) = XmlToParquetJob.compileXsd(xsdContent, rowTag)
    val members = readMembers(spark, paths, cfg.strictArchives)
    val passThrough =
      (if (cfg.fileInfo) Seq("file_info" ->
        struct(col("name"), col("size"), col("archive")))
      else Nil) ++
      (if (route) Seq(XmlToParquetJob.Route -> col("archive"),
        XmlToParquetJob.Member -> col("name"))
      else Nil)
    val parsed = members
      .withColumn("__doc", from_xml(col("xml"), contentType,
        XmlToParquetJob.ParseOptions.asJava))
      .select(col("__doc.*") +: passThrough.map { case (n, c) => c.as(n) }: _*)
    XmlShaper.shapeDocument(parsed, root, cfg.includes, cfg.excludes,
      passThrough.map(_._1))
  }
}

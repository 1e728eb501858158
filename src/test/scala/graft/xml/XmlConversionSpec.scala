package graft.xml

import graft.SparkSuite
import graft.operators.XmlQueries
import graft.sources.ArchiveXmlSource
import graft.xml.XmlToParquetJob.Config

/** Golden conversion parity for the bookOrder fixture — the Spark-native
  * equivalent of the reference's README golden outputs (full document,
  * include-path, exclude-path; SURVEY.md §5.1).
  */
class XmlConversionSpec extends SparkSuite {

  private def xmlPath =
    XmlQueries.fixtureDir.resolve("bookOrder.xml").toString

  test("full conversion matches golden output") {
    val df = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath))
    assert(df.columns.toSeq == Seq("bookOrder"))
    assert(df.count() == 1) // one document = one row
    // golden JSON (toJSON drops null fields; schema asserted separately)
    val expected =
      """{"bookOrder":{"bookOrder@orderDate":"2005-03-14 00:00:00.000",""" +
        """"shipTo":{"shipTo@country":"FR","name":"Ada Lovelace",""" +
        """"street":"12 Rue Verte","city":"Lyon","zip":69001.0},""" +
        """"billTo":{"billTo@country":"FR","name":"Blaise Pascal",""" +
        """"street":"8 Quai Noir","city":"Paris","zip":75001.0},""" +
        """"note":"Leave parcel with concierge","books":{"book":[""" +
        """{"book@isbn":"321-QL","title":"Relational Algebra in Practice",""" +
        """"copies":2,"price":54.99,"note":"gift wrap"},""" +
        """{"book@isbn":"654-ZT","title":"Streams and Tables","copies":1,""" +
        """"price":89.5,"shipDate":"2005-04-01 00:00:00.000"}]}}}"""
    assert(df.toJSON.collect().head == expected)
    // absent optional fields are present-and-null under the fixed schema
    val row = df.select("bookOrder.books.book").collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(row(0).isNullAt(row(0).fieldIndex("shipDate")))
    assert(row(1).isNullAt(row(1).fieldIndex("note")))
    // output type lattice: decimal->double, int-family->long, date->string
    val bookType = df.schema("bookOrder").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("books").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("book").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(bookType("copies").dataType.typeName == "long")
    assert(bookType("price").dataType.typeName == "double")
    assert(bookType("shipDate").dataType.typeName == "string")
  }

  test("include path keeps subtree plus ancestor attributes") {
    val df = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath),
      Config(includes = Seq("/bookOrder/books/book")))
    val json = df.toJSON.collect().head
    assert(json.contains("\"bookOrder@orderDate\":\"2005-03-14 00:00:00.000\""))
    assert(json.contains("\"books\":{\"book\":["))
    assert(!json.contains("shipTo") && !json.contains("note\":\"Leave"))
  }

  test("a trailing * include component is treated like its parent path") {
    val plain = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath),
      Config(includes = Seq("/bookOrder/books/book"))).toJSON.collect().head
    val star = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath),
      Config(includes = Seq("/bookOrder/books/book/*"))).toJSON.collect().head
    assert(plain == star)
  }

  test("exclude paths drop subtrees") {
    val df = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath),
      Config(excludes = Seq("/bookOrder/note", "/bookOrder/books")))
    val json = df.toJSON.collect().head
    assert(json.contains("shipTo") && json.contains("billTo"))
    assert(!json.contains("books") && !json.contains("concierge"))
  }

  test("file_info metadata column") {
    val df = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath),
      Config(fileInfo = true))
    assert(df.columns.toSeq == Seq("bookOrder", "file_info"))
    val fi = df.select("file_info.name", "file_info.size").collect().head
    assert(fi.getString(0) == "bookOrder.xml")
    assert(fi.getLong(1) > 0)
  }

  test("zip and tar.gz containers: one row per member") {
    for (archive <- Seq("books.zip", "books.tar.gz")) {
      val df = ArchiveXmlSource.read(spark, XmlQueries.xsd,
        Seq(XmlQueries.fixtureDir.resolve(archive).toString),
        Config(fileInfo = true))
      val rows = df.select("file_info.name").collect().map(_.getString(0))
      assert(rows.sorted.toSeq == Seq("order1.xml", "order2.xml"),
        s"archive $archive")
      val json = df.toJSON.collect().head
      assert(json.contains("\"bookOrder@orderDate\""))
    }
  }

  test("gzip single-file source decompresses transparently") {
    // reference source S3 (convert_xml_to_parquet.py:361-383): Hadoop's
    // codec layer handles .gz inside the XML reader
    val dir = java.nio.file.Files.createTempDirectory("gz_src")
    val gz = dir.resolve("bookOrder.xml.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(XmlQueries.resourceText("bookOrder.xml")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val plain = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(xmlPath))
      .toJSON.collect().head
    val viaGz = XmlToParquetJob.read(spark, XmlQueries.xsd, Seq(gz.toString))
      .toJSON.collect().head
    assert(viaGz == plain)
    assert(XmlToParquetJob.outputName(gz.toString) == "bookOrder.xml.parquet")
  }

  test("per-file parquet sink uses reference naming") {
    assert(XmlToParquetJob.outputName("/a/b/order.xml") == "order.xml.parquet")
    assert(XmlToParquetJob.outputName("x.xml.gz") == "x.xml.parquet")
    assert(XmlToParquetJob.outputName("x.tar.gz") == "x.xml.parquet")
    assert(XmlToParquetJob.outputName("x.zip") == "x.xml.parquet")
    val target = java.nio.file.Files.createTempDirectory("xml_sink").toString
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(xmlPath), target)
    assert(written == Seq(s"$target/bookOrder.xml.parquet"))
    val back = spark.read.parquet(written.head)
    assert(back.count() == 1 && back.columns.toSeq == Seq("bookOrder"))
  }

  test("corrupt archive: lenient keeps prefix, strict rejects whole") {
    // zip with two entries, then truncate mid-second-entry: entry 1
    // remains fully readable, entry 2's CRC check cannot pass
    val dir = java.nio.file.Files.createTempDirectory("corrupt_zip")
    val whole = dir.resolve("whole.zip")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(whole))
    val xml = XmlQueries.resourceText("bookOrder.xml")
    Seq("order1.xml", "order2.xml").foreach { n =>
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    zip.close()
    val bytes = java.nio.file.Files.readAllBytes(whole)
    val corrupt = dir.resolve("corrupt.zip")
    java.nio.file.Files.write(corrupt,
      java.util.Arrays.copyOf(bytes, bytes.length - xml.length / 2))
    val lenient = ArchiveXmlSource.readMembers(spark,
      Seq(corrupt.toString)).select("name")
      .collect().map(_.getString(0)).toSeq
    assert(lenient == Seq("order1.xml"), s"lenient saw $lenient")
    val strict = ArchiveXmlSource.readMembers(spark,
      Seq(corrupt.toString), strict = true).count()
    assert(strict == 0L, "strict mode must reject the whole archive")
    // an intact archive is unaffected by strict mode
    val intact = ArchiveXmlSource.readMembers(spark,
      Seq(whole.toString), strict = true).count()
    assert(intact == 2L)
  }

  test("deleteSource removes the input after success, keeps it on failure") {
    // reference -d flag (convert_xml_to_parquet.py:407-408)
    val srcDir = java.nio.file.Files.createTempDirectory("del_src")
    val src = srcDir.resolve("bookOrder.xml")
    java.nio.file.Files.writeString(src,
      XmlQueries.resourceText("bookOrder.xml"))
    val target = java.nio.file.Files.createTempDirectory("del_out").toString
    XmlToParquetJob.convert(spark, XmlQueries.xsd, Seq(src.toString),
      target, deleteSource = true)
    assert(!java.nio.file.Files.exists(src), "source must be gone on success")
    assert(spark.read.parquet(s"$target/bookOrder.xml.parquet").count() == 1)

    // a failed write is isolated per file (reference error_callback
    // parity): reported through onError, no exception escapes, and the
    // source is NOT deleted
    val src2 = srcDir.resolve("bookOrder2.xml")
    java.nio.file.Files.writeString(src2,
      XmlQueries.resourceText("bookOrder.xml"))
    var failed = Seq.empty[String]
    val out2 = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(src2.toString), "/proc/graft_unwritable", deleteSource = true,
      onError = (f, _) => failed :+= f)
    // glob expansion normalizes to a file: URI — compare by path suffix
    assert(out2.isEmpty && failed.size == 1 &&
      failed.head.endsWith("bookOrder2.xml"), s"failures: $failed")
    assert(java.nio.file.Files.exists(src2),
      "source must survive a failed conversion")
  }

  test("worklist isolates per-file failures: one corrupt input costs " +
      "one output, not the batch") {
    // reference behavior (convert_xml_to_parquet.py:510-524): a failed
    // file is logged via error_callback and the rest of the worklist
    // converts — verified here with a corrupt gzip between two good
    // inputs, under -d
    val srcDir = java.nio.file.Files.createTempDirectory("iso_src")
    val good1 = srcDir.resolve("good1.xml")
    val good2 = srcDir.resolve("good2.xml")
    for (p <- Seq(good1, good2))
      java.nio.file.Files.writeString(p,
        XmlQueries.resourceText("bookOrder.xml"))
    val bad = srcDir.resolve("bad.xml.gz") // not gzip: codec fails mid-task
    java.nio.file.Files.write(bad, "this is not a gzip stream".getBytes)
    val target = java.nio.file.Files.createTempDirectory("iso_out").toString
    var failed = Seq.empty[String]
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(good1.toString, bad.toString, good2.toString), target,
      deleteSource = true, onError = (f, _) => failed :+= f)
    assert(written.map(w => new java.io.File(w).getName).sorted ==
      Seq("good1.xml.parquet", "good2.xml.parquet"), s"wrote $written")
    // glob expansion normalizes to a file: URI — compare by path suffix
    assert(failed.size == 1 && failed.head.endsWith("bad.xml.gz"),
      s"failures: $failed")
    // -d semantics under isolation: converted sources deleted, the
    // failed source kept for retry
    assert(!java.nio.file.Files.exists(good1) &&
      !java.nio.file.Files.exists(good2), "converted sources must be gone")
    assert(java.nio.file.Files.exists(bad),
      "failed source must never be deleted")
  }

  private def bookOrder = XmlQueries.resourceText("bookOrder.xml")

  private def writeGz(p: java.nio.file.Path, text: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(p))
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A directory of `plain` plain files, `gz` gzip files and `archives`
    * archives (alternating the zip and tar.gz fixtures).
    */
  private def corpus(plain: Int, gz: Int, archives: Int): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("batch_src")
    for (i <- 0 until plain)
      java.nio.file.Files.writeString(dir.resolve(s"p$i.xml"), bookOrder)
    for (i <- 0 until gz) writeGz(dir.resolve(s"g$i.xml.gz"), bookOrder)
    for (i <- 0 until archives) {
      val fixture = if (i % 2 == 0) "books.zip" else "books.tar.gz"
      java.nio.file.Files.copy(XmlQueries.fixtureDir.resolve(fixture),
        dir.resolve(s"a$i.${fixture.stripPrefix("books.")}"))
    }
    dir
  }

  private def dataFiles(out: String): Seq[String] =
    new java.io.File(out).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq

  test("convert runs the same number of Spark jobs for 8 inputs as for 2") {
    def jobs(plain: Int, gz: Int, archives: Int): Int = {
      val src = corpus(plain, gz, archives)
      val target = java.nio.file.Files.createTempDirectory("batch_out")
      var failed = Seq.empty[String]
      var written = Seq.empty[String]
      val n = jobsDuring {
        written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
          Seq(s"$src/*"), target.toString, onError = (f, _) => failed :+= f)
      }
      assert(failed.isEmpty, s"failures: $failed")
      // two members per archive fixture
      assert(written.size == plain + gz + 2 * archives, s"wrote $written")
      written.foreach(o => assert(dataFiles(o).size == 1, s"$o"))
      n
    }
    val small = jobs(plain = 1, gz = 0, archives = 1)
    val large = jobs(plain = 3, gz = 3, archives = 2)
    // the write jobs are per batch (plain/gzip, archives), not per input
    // or member — renames are driver-side metadata ops
    assert(large == small, s"1+1 inputs ran $small jobs, 6+2 ran $large")
  }

  test("archive convert runs one write job regardless of member count") {
    val target = java.nio.file.Files.createTempDirectory("arch_one").toString
    val jobs = jobsDuring {
      XmlToParquetJob.convert(spark, XmlQueries.xsd,
        Seq(XmlQueries.fixtureDir.resolve("books.zip").toString), target)
    }
    // one partitionBy write job (+ at most one shuffle-stage job), NOT a
    // job per member — the renames are driver-side metadata ops
    assert(jobs <= 2, s"expected a single write job, saw $jobs")
  }

  test("an input with no documents still gets a zero-row output") {
    val src = java.nio.file.Files.createTempDirectory("zero_src")
    java.nio.file.Files.writeString(src.resolve("good.xml"), bookOrder)
    java.nio.file.Files.writeString(src.resolve("empty.xml"), "")
    java.nio.file.Files.writeString(src.resolve("noroot.xml"),
      "<?xml version=\"1.0\"?>\n<invoice><total>3</total></invoice>\n")
    val target = java.nio.file.Files.createTempDirectory("zero_out").toString
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq("good.xml", "empty.xml", "noroot.xml").map(n => s"$src/$n"),
      target, Config(fileInfo = true))
    assert(written == Seq("good", "empty", "noroot")
      .map(b => s"$target/$b.xml.parquet"), s"wrote $written")
    val good = spark.read.parquet(written.head)
    assert(good.count() == 1)
    for (out <- written.tail) {
      val back = spark.read.parquet(out)
      assert(back.count() == 0, out)
      assert(back.schema == good.schema, out)
      assert(dataFiles(out).size == 1, out)
    }
  }

  test("two inputs with one output name: the later in worklist order wins") {
    val root = java.nio.file.Files.createTempDirectory("dup_src")
    val a = root.resolve("a/good.xml")
    val b = root.resolve("b/good.xml")
    java.nio.file.Files.createDirectories(a.getParent)
    java.nio.file.Files.createDirectories(b.getParent)
    java.nio.file.Files.writeString(a, bookOrder)
    java.nio.file.Files.writeString(b,
      bookOrder.replace("Ada Lovelace", "Grace Hopper"))
    def shipTo(order: Seq[java.nio.file.Path]): String = {
      val target = java.nio.file.Files.createTempDirectory("dup_out").toString
      val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
        order.map(_.toString), target)
      val out = s"$target/good.xml.parquet"
      assert(written == Seq(out, out), s"wrote $written")
      assert(dataFiles(out).size == 1)
      spark.read.parquet(out).select("bookOrder.shipTo.name")
        .collect().map(_.getString(0)).mkString(",")
    }
    assert(shipTo(Seq(a, b)) == "Grace Hopper")
    assert(shipTo(Seq(b, a)) == "Ada Lovelace")
  }

  test("names with a space, % and + keep their name in outputs and " +
      "file_info") {
    val src = java.nio.file.Files.createTempDirectory("name_src")
    val name = "my file%+.xml"
    java.nio.file.Files.writeString(src.resolve(name), bookOrder)
    writeGz(src.resolve("gz file.xml.gz"), bookOrder)
    java.nio.file.Files.copy(XmlQueries.fixtureDir.resolve("books.zip"),
      src.resolve("my books%.zip"))
    val target = java.nio.file.Files.createTempDirectory("name_out").toString
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(s"$src/*"), target, Config(fileInfo = true))
    assert(written.sorted == Seq("gz file.xml.parquet",
      "my books%.order1.xml.parquet", "my books%.order2.xml.parquet",
      "my file%+.xml.parquet").map(n => s"$target/$n"), s"wrote $written")
    val names = written.sorted.map(o => spark.read.parquet(o)
      .select("file_info.name").collect().map(_.getString(0)).mkString(","))
    // the reference's os.path.basename, not the URI-encoded path
    assert(names == Seq("gz file.xml.gz", "order1.xml", "order2.xml", name))
    val read = XmlToParquetJob.read(spark, XmlQueries.xsd,
      Seq(src.resolve(name).toString), Config(fileInfo = true))
    assert(read.select("file_info.name").head().getString(0) == name)
  }

  test("a plain input and an archive member with one output name: the " +
      "later in worklist order wins") {
    val src = java.nio.file.Files.createTempDirectory("kind_src")
    // plain `books.order1.xml` and member order1.xml of `books.zip` both
    // map to books.order1.xml.parquet
    val plain = src.resolve("books.order1.xml")
    java.nio.file.Files.writeString(plain,
      bookOrder.replace("Ada Lovelace", "Grace Hopper"))
    val zip = src.resolve("books.zip")
    java.nio.file.Files.copy(XmlQueries.fixtureDir.resolve("books.zip"), zip)
    def shipTo(order: Seq[java.nio.file.Path]): String = {
      val target = java.nio.file.Files.createTempDirectory("kind_out").toString
      XmlToParquetJob.convert(spark, XmlQueries.xsd, order.map(_.toString),
        target)
      val out = s"$target/books.order1.xml.parquet"
      assert(dataFiles(out).size == 1)
      spark.read.parquet(out).select("bookOrder.shipTo.name")
        .collect().map(_.getString(0)).mkString(",")
    }
    assert(shipTo(Seq(zip, plain)) == "Grace Hopper")
    assert(shipTo(Seq(plain, zip)) == "Ada Lovelace")
  }

  test("inputs whose paths exceed a 255-byte file name still convert") {
    val root = java.nio.file.Files.createTempDirectory("long_src")
    val dir = root.resolve("d" * 120).resolve("e" * 120)
    java.nio.file.Files.createDirectories(dir)
    val plain = dir.resolve("long name.xml")
    java.nio.file.Files.writeString(plain, bookOrder)
    val zip = dir.resolve("books.zip")
    java.nio.file.Files.copy(XmlQueries.fixtureDir.resolve("books.zip"), zip)
    assert(plain.toString.length > 255)
    val target = java.nio.file.Files.createTempDirectory("long_out").toString
    var failed = Seq.empty[String]
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(plain, zip).map(_.toString), target,
      onError = (f, _) => failed :+= f)
    assert(failed.isEmpty, s"failures: $failed")
    assert(written == Seq("long name.xml.parquet", "books.order1.xml.parquet",
      "books.order2.xml.parquet").map(n => s"$target/$n"), s"wrote $written")
    written.foreach(o => assert(spark.read.parquet(o).count() == 1, o))
  }

  test("inputs on one file system convert into a target on another") {
    // the local disk under a second scheme stands in for a second file
    // system: input paths are `file:`, the target is `otherfs:`
    spark.sparkContext.hadoopConfiguration.set("fs.otherfs.impl",
      classOf[OtherSchemeFileSystem].getName)
    val src = corpus(plain = 1, gz = 1, archives = 1)
    val target = java.nio.file.Files.createTempDirectory("otherfs_out")
    var failed = Seq.empty[String]
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(s"$src/*"), s"otherfs://$target", onError = (f, _) => failed :+= f)
    assert(failed.isEmpty, s"failures: $failed")
    assert(written.map(o => new org.apache.hadoop.fs.Path(o).getName).sorted ==
      Seq("a0.order1.xml.parquet", "a0.order2.xml.parquet", "g0.xml.parquet",
        "p0.xml.parquet"), s"wrote $written")
    assert(written.forall(_.startsWith("otherfs:")), s"wrote $written")
    for (o <- written) {
      val local = o.stripPrefix("otherfs:")
      assert(dataFiles(local).size == 1, o)
      assert(spark.read.parquet(local).count() == 1, o)
    }
  }

  test("CLI main converts with the reference flag surface") {
    val srcDir = java.nio.file.Files.createTempDirectory("cli_src")
    val xsdFile = srcDir.resolve("bookOrder.xsd")
    java.nio.file.Files.writeString(xsdFile, XmlQueries.xsd)
    java.nio.file.Files.writeString(srcDir.resolve("bookOrder.xml"),
      XmlQueries.resourceText("bookOrder.xml"))
    java.nio.file.Files.copy(XmlQueries.fixtureDir.resolve("books.zip"),
      srcDir.resolve("books.zip"))
    val target = java.nio.file.Files.createTempDirectory("cli_out").toString
    Main.main(Array(
      "-x", xsdFile.toString, "-t", target, "-f", "-m", "2",
      "-e", "/bookOrder/note",
      s"$srcDir/bookOrder.xml", s"$srcDir/books.zip"))
    val outs = new java.io.File(target).listFiles().map(_.getName).sorted
    assert(outs.toSeq == Seq("bookOrder.xml.parquet",
      "books.order1.xml.parquet", "books.order2.xml.parquet"))
    val back = spark.read.parquet(s"$target/bookOrder.xml.parquet")
    assert(back.count() == 1)
    assert(back.columns.contains("file_info"))
    // -e pruned the note subtree
    assert(!back.select("bookOrder.*").columns.contains("note"))
    // borrowed session must survive main()
    assert(!spark.sparkContext.isStopped)
  }

  test("CLI without -t converts each directory in one batch, beside " +
      "its inputs") {
    val srcDir = java.nio.file.Files.createTempDirectory("cli_dir")
    val xsdFile = srcDir.resolve("bookOrder.xsd")
    java.nio.file.Files.writeString(xsdFile, XmlQueries.xsd)
    val ins = Seq("one.xml", "two.xml").map { n =>
      java.nio.file.Files.writeString(srcDir.resolve(n), bookOrder)
      srcDir.resolve(n).toString
    }
    def cli(inputs: Seq[String]): Int = jobsDuring {
      Main.main(Array("-x", xsdFile.toString) ++ inputs)
    }
    val jobsTwo = cli(ins)
    for (b <- Seq("one", "two"))
      assert(spark.read.parquet(s"$srcDir/$b.xml.parquet").count() == 1)
    // one input in the same directory costs the same jobs as both
    assert(cli(ins.take(1)) == jobsTwo)
  }

  test("CLI flag parser matches the reference argument grammar") {
    val a = Main.parse(List("-x", "s.xsd", "-p", "/a,/b", "-e", "/c",
      "-m", "4", "-d", "-f", "-b", "1024", "-v", "INFO", "in1.xml",
      "in2.zip"))
    assert(a.xsd.contains("s.xsd") && a.includes == Seq("/a", "/b") &&
      a.excludes == Seq("/c") && a.multi == 4 && a.delete && a.fileInfo &&
      a.verbose == "INFO" && a.inputs == Seq("in1.xml", "in2.zip"))
  }

  test("-t validation fails cleanly before any Spark work") {
    // reference parity (convert_xml_to_parquet.py:459-461): a missing
    // target directory is a clean exit-1 message, not a mid-run stack
    // trace; no -t (outputs land beside inputs) validates trivially
    assert(Main.targetError(None).isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("tgt_ok")
    assert(Main.targetError(Some(dir.toString)).isEmpty)
    val missing = dir.resolve("does_not_exist").toString
    assert(Main.targetError(Some(missing)).exists(_.contains(missing)))
    val plainFile = dir.resolve("a_file")
    java.nio.file.Files.writeString(plainFile, "x")
    assert(Main.targetError(Some(plainFile.toString))
      .exists(_.contains("not a directory")))
  }
}

/** The local file system under a scheme of its own (`otherfs:`), a
  * second file system for tests that need one.
  */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("otherfs:///")
  override def getScheme: String = "otherfs"
}

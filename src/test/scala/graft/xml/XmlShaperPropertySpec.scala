package graft.xml

import java.nio.file.Files

import org.scalacheck.{Gen, rng}

import graft.SparkSuite
import graft.operators.XmlQueries
import graft.xml.XmlToParquetJob.Config

/** Property tests (SURVEY.md §5.2-3): random documents conforming to the
  * bookOrder XSD -> shaping invariants. Uses scalacheck generators with
  * a fixed seed (deterministic CI) and a bounded sample count — each
  * case is a full Spark read, so breadth is traded for end-to-endness.
  */
class XmlShaperPropertySpec extends SparkSuite {

  private val word: Gen[String] =
    Gen.chooseNum(3, 10).flatMap(n => Gen.stringOfN(n, Gen.alphaChar))

  private val bookGen: Gen[String] = for {
    isbn <- Gen.stringOfN(3, Gen.numChar)
    suffix <- Gen.stringOfN(2, Gen.alphaUpperChar)
    title <- word
    copies <- Gen.chooseNum(1, 99)
    price <- Gen.chooseNum(1, 99999)
    withNote <- Gen.oneOf(true, false)
    note <- word
    withShip <- Gen.oneOf(true, false)
    day <- Gen.chooseNum(1, 28)
  } yield {
    val noteXml = if (withNote) s"<note>$note</note>" else ""
    val shipXml = if (withShip) f"<shipDate>2005-04-$day%02d</shipDate>" else ""
    s"""<book isbn="$isbn-$suffix"><title>$title</title>""" +
      s"<copies>$copies</copies><price>${price / 100.0}</price>" +
      noteXml + shipXml + "</book>"
  }

  private def addr(tag: String): Gen[String] = for {
    name <- word; street <- word; city <- word
    zip <- Gen.chooseNum(10000, 99999)
  } yield s"""<$tag country="FR"><name>$name</name><street>$street</street>""" +
    s"<city>$city</city><zip>$zip</zip></$tag>"

  private val docGen: Gen[String] = for {
    day <- Gen.chooseNum(1, 28)
    shipTo <- addr("shipTo")
    billTo <- addr("billTo")
    withNote <- Gen.oneOf(true, false)
    note <- word
    books <- Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, bookGen))
  } yield f"""<bookOrder orderDate="2005-03-$day%02d">""" + shipTo + billTo +
    (if (withNote) s"<note>$note</note>" else "") +
    s"<books>${books.mkString}</books></bookOrder>"

  /** Deterministic sample stream from a fixed seed. */
  private def samples(n: Int): Seq[String] = {
    val params = Gen.Parameters.default
    Iterator.iterate(rng.Seed(42L))(_.next)
      .map(s => docGen.pureApply(params, s, retries = 100))
      .take(n).toSeq
  }

  private def convert(xml: String, cfg: Config = Config()) = {
    val dir = Files.createTempDirectory("prop_xml")
    Files.writeString(dir.resolve("doc.xml"), xml)
    XmlToParquetJob.read(spark, XmlQueries.xsd,
      Seq(dir.resolve("doc.xml").toString), cfg)
  }

  test("schema is identical across documents regardless of optional fields") {
    val schemas = samples(8).map(x => convert(x).schema)
    assert(schemas.distinct.size == 1,
      s"schema drifted across documents: ${schemas.distinct}")
  }

  test("one document is one row under the root-named struct") {
    samples(4).foreach { x =>
      val df = convert(x)
      assert(df.columns.toSeq == Seq("bookOrder") && df.count() == 1)
    }
  }

  test("include is a projection: output fields subset, values preserved") {
    samples(4).foreach { x =>
      val full = convert(x).select("bookOrder.books").toJSON.collect().head
      val inc = convert(x, Config(includes = Seq("/bookOrder/books")))
        .select("bookOrder.books").toJSON.collect().head
      assert(inc == full) // the included subtree is untouched
      val incCols = convert(x, Config(includes = Seq("/bookOrder/books")))
        .select("bookOrder.*").columns.toSet
      assert(!incCols.contains("shipTo") && !incCols.contains("note"))
    }
  }

  test("exclude removes exactly the excluded subtree") {
    samples(4).foreach { x =>
      val df = convert(x, Config(excludes = Seq("/bookOrder/books")))
      val cols = df.select("bookOrder.*").columns.toSet
      assert(!cols.contains("books"))
      assert(cols.contains("shipTo") && cols.contains("billTo"))
    }
  }

  test("parquet round-trip preserves every document bit-for-bit") {
    samples(4).foreach { x =>
      val df = convert(x)
      val out = Files.createTempDirectory("prop_rt").resolve("d.parquet")
      df.write.mode("overwrite").parquet(out.toString)
      val back = spark.read.parquet(out.toString)
      // parquet read-back relaxes struct nullability; compare shape only
      assert(back.schema.simpleString == df.schema.simpleString)
      assert(back.toJSON.collect().toSeq == df.toJSON.collect().toSeq)
    }
  }
}

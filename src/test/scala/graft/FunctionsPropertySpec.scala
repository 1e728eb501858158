package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property tests for the native codegen'd expressions: random token /
  * vector inputs -> algebraic invariants of the signatures, checked
  * through real Spark evaluation (so both the interpreted `eval` and the
  * generated code path are exercised via codegen fallback settings Spark
  * chooses). Fixed scalacheck seed, bounded samples — each case round
  * trips through a DataFrame.
  */
class FunctionsPropertySpec extends SparkSuite {

  override protected def shufflePartitions: Int = 2

  private val seed = rng.Seed(20260812L)

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed), seed.next)) {
      case (_, s) => (g.pureApply(Gen.Parameters.default, s), s.next)
    }.map(_._1).take(n).toSeq

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val doc: Gen[Seq[String]] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, word))

  test("md5_long64 equals the independent conv(md5) SQL spelling") {
    // the oracle-portable hash base (round 11): first 8 md5 bytes,
    // big-endian, as a signed long — pinned against a spelling that
    // shares NO code with Md5Long.hash64 (Spark's conv parses the hex,
    // decimal arithmetic re-centers the unsigned image)
    import spark.implicits._
    val ws = sample(word, 40) ++ Seq("", " ", "Ünïcødé", "a b")
    val rows = ws.toDF("t")
      .select(functions.Md5Long(col("t")).as("native"),
        expr("""CAST(CAST(conv(substr(md5(t), 1, 16), 16, 10)
            |    AS DECIMAL(20,0))
            |  - CASE WHEN CAST(conv(substr(md5(t), 1, 16), 16, 10)
            |        AS DECIMAL(20,0)) >= 9223372036854775808
            |    THEN CAST(18446744073709551616 AS DECIMAL(21,0))
            |    ELSE CAST(0 AS DECIMAL(21,0)) END AS BIGINT)""".stripMargin)
          .as("hof"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("AlnumSquash(lower(x)) equals the two-regex chain, generated " +
      "and interpreted") {
    import spark.implicits._
    // characters the chain keeps, drops, case-maps or decodes: ASCII
    // classes, whitespace runs, Latin-1, KELVIN SIGN (lowers to `k`),
    // dotted capital I (lowers to `i` plus a combining dot), and an
    // emoji surrogate pair
    val piece = Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      4 -> Gen.alphaUpperChar.map(_.toString),
      3 -> Gen.numChar.map(_.toString),
      6 -> Gen.oneOf(" ", "  ", "   "),
      4 -> Gen.oneOf("\t", "\n", "\r\n", "_", "-", ".", ",", "!", "'",
        "[", "]", "@", "~", "\u007f"),
      3 -> Gen.oneOf("\u00e9", "\u00c9", "\u00df", "\u212a",
        "\u0130", "\ud83d\ude00"))
    val texts = sample(
      Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString),
      300) ++ Seq("", " ", "   ", " a ", "  Lead and trail  ",
      "A - B", "\u212a\u0130", "x\ud83d\ude00 \ud83d\ude00 y")
    val dir = tmpDir("alnum_squash")
    try {
      // read back from Parquet: a local relation would be folded by
      // the optimizer, and neither execution path would run
      (texts.map(Option(_)) :+ None).toDF("t")
        .unionByName(spark.sql("SELECT CAST(unhex('61FF62') AS STRING) AS t"))
        .write.parquet(s"$dir/t")
      for ((mode, wholeStage) <-
          Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)) {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try {
          val df = spark.read.parquet(s"$dir/t").select(col("t"),
            functions.AlnumSquash(lower(col("t"))).as("native"),
            regexp_replace(regexp_replace(lower(col("t")),
              "[^a-z0-9 ]", ""), " +", " ").as("regex"))
          val rows = df.collect()
          assert(rows.length == texts.length + 2)
          // the invalid byte decodes to U+FFFD on collect
          assert(rows.exists(r => r.getString(0) == "a\ufffdb" &&
            r.getString(1) == "ab"), "invalid UTF-8")
          val bad = rows.filter(r => r.get(1) != r.get(2))
            .map(r => s"[${r.get(0)}] -> [${r.get(1)}] vs [${r.get(2)}]")
          val nBad = bad.length
          assert(nBad == 0, s"$mode: ${bad.take(3).mkString("; ")}")
          assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.WholeStageCodegenExec]) ==
            wholeStage, mode)
        } finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
    } finally cleanup(dir)
  }

  test("SimHash64: identical docs hash equal; one-token edit flips few bits") {
    import spark.implicits._
    val docs = sample(doc.filter(_.length >= 10), 12)
    val edited = docs.map(d => d.updated(d.length / 2, "zzzedit"))
    val df = (docs ++ edited).map(_.mkString(" ")).toDF("text")
      .select(functions.SimHash64(split(col("text"), " ")).as("h"))
      .collect().map(_.getLong(0))
    val (orig, ed) = df.splitAt(docs.length)
    docs.indices.foreach { i =>
      val ham = java.lang.Long.bitCount(orig(i) ^ ed(i))
      // a single replaced token among >=10 moves few of the 64 sign sums
      assert(ham <= 24, s"doc $i: hamming $ham after one-token edit")
    }
    // determinism: recompute equals first compute
    val again = docs.map(_.mkString(" ")).toDF("text")
      .select(functions.SimHash64(split(col("text"), " ")).as("h"))
      .collect().map(_.getLong(0))
    assert(again.toSeq == orig.toSeq)
  }

  test("MinHashBandKeys: permutation-invariant to duplicate grams, " +
      "identical docs collide on all bands, disjoint docs on none") {
    import spark.implicits._
    val docs = sample(doc.filter(_.length >= 8), 10)
    def keys(ts: Seq[Seq[String]]): Seq[Seq[Long]] =
      ts.map(_.mkString(" ")).toDF("text")
        .select(functions.MinHashBandKeys(split(col("text"), " "), 3, 32, 8)
          .as("k"))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val base = keys(docs)
    // duplicating the doc's own tail adds only duplicate grams plus a
    // few new boundary grams — minima can only decrease; identical
    // input twice must be bitwise identical
    assert(keys(docs) == base)
    // identical docs collide on every band
    val twice = keys(docs.map(identity) ++ docs)
    docs.indices.foreach(i => assert(twice(i) == twice(docs.length + i)))
    // token-disjoint docs should collide on (almost) no band: compare
    // lowercase corpus against an uppercase-alphabet corpus
    val disjoint = keys(docs.map(_.map(_.toUpperCase)))
    val collisions = base.zip(disjoint)
      .map { case (a, b) => a.zip(b).count { case (x, y) => x == y } }.sum
    assert(collisions <= 2, s"$collisions band collisions between disjoint corpora")
  }

  test("LshBuckets: deterministic, in-range, matches the independent " +
      "md5 re-derivation, and sign-invariances hold off the margin") {
    import spark.implicits._
    val vec: Gen[Seq[Float]] =
      Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 997.0f))
    val vs = sample(vec.filter(_.exists(_ != 0f)), 15)
    def buckets(xs: Seq[Seq[Float]]): Seq[Seq[Long]] =
      xs.map(v => Tuple1(v.toArray)).toDF("v")
        .select(functions.LshBuckets(col("v"), 8, 4).as("b"))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val b1 = buckets(vs)
    assert(b1 == buckets(vs)) // deterministic
    assert(b1.forall(row => row.length == 8 && row.forall(k => k >= 0 && k < 16)))
    // bit-exact match with a from-scratch recompute of the md5 integer
    // basis (raw MessageDigest — independent of functions.Md5Long):
    // component(P, i) = (low 16 bits of md5("lsh|P|i")) - 2^15 over
    // 2^20 fixed-point elements
    def comp(plane: Int, dim: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lsh|$plane|$dim".getBytes("UTF-8"))
      (((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) - 32768L
    }
    def dots(v: Seq[Float]): Seq[Long] = {
      val q = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
      (0 until 32).map(p => q.indices.map(i => q(i) * comp(p, i)).sum)
    }
    val ref = vs.map { v =>
      dots(v).grouped(4).map(_.zipWithIndex
        .map { case (d, p) => if (d >= 0L) 1L << p else 0L }.sum).toSeq
    }
    assert(b1 == ref)
    // sign-invariances now hold only OUTSIDE the quantization margin:
    // scaling by s perturbs each projection by at most n*(s+2)*2^15
    // (per-element floor error <= s+1, component magnitude <= 2^15).
    // Guard planes whose |dot| clears the bound; every guarded sign
    // must survive scaling and flip under negation.
    val margin = 16L * 10L * 32768L // n=16, s=7.5 -> n*(s+2.5)*2^15
    vs.zip(ref).foreach { case (v, _) =>
      val d0 = dots(v)
      val d7 = dots(v.map(_ * 7.5f))
      val dn = dots(v.map(x => -x))
      d0.indices.filter(p => math.abs(d0(p)) > margin).foreach { p =>
        assert((d0(p) >= 0L) == (d7(p) >= 0L), s"scale flipped plane $p")
        assert((d0(p) >= 0L) == (dn(p) < 0L), s"negation kept plane $p")
      }
    }
  }

  test("MortonCode: matches bit-by-bit reference interleave; masks to " +
      "16 bits; inverse-recoverable") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until 16).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.sum
    val coord: Gen[(Long, Long)] = for {
      x <- Gen.chooseNum(0L, 0x1ffffL) // beyond 16 bits to test masking
      y <- Gen.chooseNum(0L, 0x1ffffL)
    } yield (x, y)
    val pts = sample(coord, 40) ++
      Seq((0L, 0L), (0xffffL, 0L), (0L, 0xffffL), (0xffffL, 0xffffL))
    val got = pts.toDF("x", "y")
      .select(functions.MortonCode(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), z) =>
      assert(z == ref(x & 0xffffL, y & 0xffffL), s"($x, $y)")
    }
    // corner values: all-x bits land on even positions, all-y on odd
    assert(functions.MortonCode.interleave(0xffffL, 0L) == 0x55555555L)
    assert(functions.MortonCode.interleave(0L, 0xffffL) == 0xaaaaaaaaL)
  }

  test("DeflateLen: deterministic, bounded, and orders repetitive below " +
      "high-entropy text") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val repetitive = "spark table scan " * 64 // 1088 chars, low entropy
    val noisy = (1 to 1088).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = Seq(repetitive, noisy, "", "x") ++
      sample(doc, 10).map(_.mkString(" "))
    def lens(ts: Seq[String]): Seq[Long] =
      ts.toDF("text")
        .select(functions.DeflateLen(col("text")).as("n"))
        .collect().map(_.getLong(0)).toSeq
    val first = lens(texts)
    assert(first == lens(texts)) // deterministic across invocations
    texts.zip(first).foreach { case (t, n) =>
      assert(n >= 0 && n <= t.getBytes("UTF-8").length + 64,
        s"len $n out of bounds for ${t.take(20)}")
    }
    // the curation signal: low-entropy text compresses far smaller than
    // random text of the same length
    assert(first(0) < first(1) / 2,
      s"repetitive ${first(0)} !<< noisy ${first(1)}")
  }

  test("NGramGenerator: gram count and content law") {
    import spark.implicits._
    val docs = sample(doc, 20)
    for (n <- Seq(2, 3, 5)) {
      val got = docs.map(_.mkString(" ")).toDF("text")
        .select(functions.NGramGenerator(split(col("text"), " "), n)
          .alias("gram"))
        .collect().map(_.getString(0))
      val expected = docs.flatMap(d =>
        // split("") yields one empty token, like Spark's split
        (if (d.isEmpty) Seq("") else d).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")))
      assert(got.toSeq.sorted == expected.sorted, s"n=$n")
    }
  }

  test("bitmap algebra: cardinality/AND-popcount mirror exact set " +
      "algebra on random position sets, any partitioning") {
    import graft.functions.BitmapAgg.{andCardinality, bitmap, cardinality}
    val posGen = Gen.listOfN(40, Gen.choose(0L, 1023L))
    val cases = sample(Gen.zip(posGen, posGen), 12)
    import spark.implicits._
    cases.zipWithIndex.foreach { case ((xs, ys), i) =>
      val (sx, sy) = (xs.toSet, ys.toSet)
      val df = (xs.map(p => ("a", p)) ++ ys.map(p => ("b", p)))
        .toDF("side", "pos").repartition(3 + i % 3)
      val bms = df.groupBy("side")
        .agg(bitmap(col("pos")).as("bm"))
        .collect().map(r => (r.getString(0),
          r.getAs[Array[Byte]]("bm"))).toMap
      assert(graft.functions.BitmapOps.cardinality(bms("a")) == sx.size)
      assert(graft.functions.BitmapOps.cardinality(bms("b")) == sy.size)
      assert(graft.functions.BitmapOps.andCardinality(bms("a"), bms("b"))
        == (sx & sy).size, s"case $i")
      // the codegen'd StaticInvoke path agrees with the direct call
      val viaExpr = df.groupBy(lit(1))
        .agg(bitmap(when(col("side") === "a", col("pos"))).as("ba"),
          bitmap(when(col("side") === "b", col("pos"))).as("bb"))
        .select(cardinality(col("ba")).as("ca"),
          andCardinality(col("ba"), col("bb")).as("cab"))
        .head()
      assert(viaExpr.getLong(0) == sx.size)
      assert(viaExpr.getLong(1) == (sx & sy).size)
    }
  }
}

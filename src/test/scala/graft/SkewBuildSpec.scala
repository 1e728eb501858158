package graft

import org.apache.spark.sql.functions._

/** The zipf skew builder (ScaleProbe.buildSkewed) is measurement
  * infrastructure the scale story leans on — if its ladder drifts, the
  * skew exponents measure a different corpus than SURVEY §6 claims.
  * Pin the data contract on a real sf0.001 build: total volume ≈ 10×,
  * a genuinely hot ownership profile, join-key heat on lineitem
  * (unshifted l_orderkey), and doc_id uniqueness + near-dup family
  * text on documents.
  */
class SkewBuildSpec extends SparkSuite {

  test("zipf build: ~10x volume, hot keys own a real share, keys stay " +
    "sound") {
    val dst = s"${graft.Scratch.root}/graft_test/skew-" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      ScaleProbe.buildSkewed(spark, sf, dst)
      val liBase = Tables.table(spark, sf, "lineitem").count()
      val li = spark.read.parquet(s"$dst/lineitem.parquet")
      val liN = li.count()
      val factor = liN.toDouble / liBase
      assert(factor > 9.0 && factor < 11.0,
        s"volume factor $factor drifted off the 10.02x ladder")
      // hot-key ownership: the top 1% of orderkeys must own well over
      // their uniform share (the whole point of the skew level) — the
      // ladder puts ~28% of rows on them at large n; allow slack for
      // small-key-count quantization at sf0.001
      val byKey = li.groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      val nKeys = byKey.count()
      val top1pct = byKey.orderBy(col("c").desc)
        .limit(math.max(1, (nKeys / 100).toInt))
        .agg(sum("c")).head().getLong(0)
      assert(top1pct.toDouble / liN > 0.10,
        s"top-1% ownership ${top1pct.toDouble / liN} — not skewed")
      // the salt column's raw material must still vary within a hot key
      val maxSameSalt = li
        .groupBy(col("l_orderkey"), pmod(col("l_linenumber"), lit(8)))
        .agg(count(lit(1)).as("c"))
        .agg(max("c")).head().getLong(0)
      val maxKey = byKey.agg(max("c")).head().getLong(0)
      assert(maxSameSalt < maxKey,
        "l_linenumber no longer spreads copies across salts")
      // documents: primary key stays unique, families are near-dups
      val docs = spark.read.parquet(s"$dst/documents.parquet")
      assert(docs.count() == docs.select("doc_id").distinct().count(),
        "doc_id collision in the skew build")
      val dOff = Tables.table(spark, sf, "documents")
        .agg(max("doc_id")).head().getLong(0) + 1
      // each non-base copy appends exactly one token to its base text
      val fam = docs
        .withColumn("base_id", pmod(col("doc_id"), lit(dOff)))
        .groupBy("base_id")
        .agg(countDistinct(length(col("text"))).as("variants"),
          count(lit(1)).as("copies"))
      assert(fam.filter(col("copies") > 1 && col("variants") < 2)
        .count() == 0, "family copies must differ (near-dup, not exact)")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dst))
    }
  }
}

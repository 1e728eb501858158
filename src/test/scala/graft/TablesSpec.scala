package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** `Tables.table` infers each source table's schema once per session and
  * table version, and still returns a fresh relation on every call.
  */
class TablesSpec extends SparkSuite {

  test("a second table() of one table launches no Spark job") {
    for (name <- Seq("supplier", "events")) {
      Tables.table(spark, sf, name)
      assert(jobsDuring(Tables.table(spark, sf, name)) == 0, name)
    }
  }

  test("a table rewritten in place is inferred again") {
    val dir = Files.createTempDirectory("tables_schema").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.agg(sum("b")).head.getLong(0) == 6L)
  }

  test("two table() reads of one table join with each other") {
    val a = Tables.table(spark, sf, "nation")
    val b = Tables.table(spark, sf, "nation")
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_name"), b("n_name")).count()
    val expected = a.groupBy("n_regionkey").count().collect()
      .map(r => r.getLong(1) * r.getLong(1)).sum
    assert(expected > 25L)
    assert(pairs == expected)
  }
}

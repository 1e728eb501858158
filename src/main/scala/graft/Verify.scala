package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The factory's planner surface (TopKPerKey + RowNumberTopKRewrite):
    // window-spelled top-k queries plan through the bounded-heap operator
    // here exactly as they do in Bench and the test sessions.
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration (driver never sets this):
    // SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries.
    val dumped = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (n, _) => Session.selected(n) }
      .foreach { case (name, fn) =>
      dumped += name
      // a marker from an earlier run into the same outDir must not
      // survive a now-successful query
      try Files.deleteIfExists(Paths.get(s"$outDir/$name.failed"))
      catch { case _: Throwable => () }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Explicit artifact marker: a broken query must be legible from
        // the dump directory alone, not only from a missing entry.
        try Files.writeString(Paths.get(s"$outDir/$name.failed"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
        catch { case _: Throwable => () }
      }
    }
    Measure.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    // Manifest of the dumped query set: a reused outDir keeps parquet
    // dirs of renamed/removed queries, and the oracle compare then
    // reports confusing schema FAILs against ghosts. The checker
    // iterates the manifest and prunes per-query dirs not in it.
    // Full runs REPLACE the manifest (so renamed queries get pruned);
    // SPARK_GRAFT_ONLY subset runs MERGE into any existing manifest —
    // replacing it would make the checker rmtree every other query's
    // dump and report green over only the subset (ADVICE r13).
    val manifest = new java.io.File(s"$outDir/manifest.json")
    val prior =
      if (Session.only.isEmpty || !manifest.exists()) Nil
      else Measure.mapper.readValue(manifest, classOf[Array[String]]).toSeq
    Measure.writeJson(manifest.toString, (prior ++ dumped).distinct.sorted)
    // Stamp the dump with the tree it came from, so a stale artifact
    // is distinguishable from a live regression (round-8 lesson).
    Files.writeString(Paths.get(s"$outDir/git_sha.txt"),
      GitSha.resolve() + "\n")
    spark.stop()
  }
}

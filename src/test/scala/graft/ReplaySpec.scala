package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The streaming twins' replay-and-sink harness, `streaming.Replay`: a
  * twin's run leaves nothing behind in the caller's session or on the
  * scratch root, a hollowed-out replay is rebuilt, and no other code
  * runs a stream.
  */
class ReplaySpec extends SparkSuite {

  override protected def shufflePartitions: Int = 2

  private def checkpoints(): Set[String] =
    Option(new File(s"${Scratch.root}/graft_ckpt").list())
      .map(_.toSet).getOrElse(Set.empty)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet

  test("building a streaming twin leaves no sink view, active stream or " +
    "checkpoint behind") {
    val twins = SparkEntry.queries.keys.toSeq
      .filter(_.startsWith("q_streaming_")).sorted
    assert(twins.size >= 26, s"twin inventory shrank: ${twins.size}")
    twins.foreach { q =>
      val before = checkpoints()
      SparkEntry.queries(q)(spark, sf)
      assert(!tempViews().exists(_.startsWith("graft_stream_")), q)
      assert(spark.streams.active.isEmpty, q)
      assert((checkpoints() -- before).isEmpty, q)
    }
  }

  test("the twins share one sized child session per partition count, " +
    "kept in step with the parent's confs and listeners") {
    val child = streaming.Replay.sized(spark, "2")
    assert(streaming.Replay.sized(spark, "2") eq child)
    assert(!(streaming.Replay.sized(spark, "3") eq child))
    assert(child.conf.get("spark.sql.shuffle.partitions") == "2")
    import StreamingQueryListener._
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val key = "spark.sql.files.maxPartitionBytes"
    spark.streams.addListener(listener)
    spark.conf.set(key, "16k")
    try {
      val c = streaming.Replay.sized(spark, "2")
      assert(c.streams.listListeners.contains(listener))
      assert(c.conf.get(key) == "16k")
    } finally { spark.streams.removeListener(listener); spark.conf.unset(key) }
    val c = streaming.Replay.sized(spark, "2")
    assert(!c.streams.listListeners.contains(listener))
    assert(c.conf.get(key) == spark.conf.get(key))
  }

  test("the warm-up's streaming step leaves no sink view behind") {
    val before = tempViews()
    Session.warm(spark, sf)
    assert((tempViews() -- before).isEmpty)
    assert(spark.streams.active.isEmpty)
  }

  test("a replay missing its last batch file is rebuilt on the next call") {
    val replays = Seq[(String, (SparkSession, String) => String, String)](
      ("replayDir", streaming.StatefulSession.replayDir, "batch1.parquet"),
      ("replayDocsDir", streaming.StatefulBandIndex.replayDocsDir,
        "batch1.parquet"),
      ("lateReplayDir", streaming.LateData.lateReplayDir, "batch2.parquet"))
    replays.foreach { case (name, build, last) =>
      val dir = build(spark, sf)
      val file = new File(dir, last)
      assert(file.isFile, s"$name: no $last in $dir")
      val mtime = file.lastModified
      assert(file.delete(), s"$name: could not delete $file")
      assert(build(spark, sf) == dir, name)
      assert(file.isFile && file.length > 0, s"$name: $last not rebuilt")
      // the forced mtime that orders the batches is restored too
      assert(file.lastModified == mtime, name)
    }
  }

  test("only Replay runs a stream to its end or names a memory sink") {
    val markers = Seq("processAllAvailable", "format(\"memory\")")
    val found = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter { p =>
        val text = Files.readString(p)
        markers.exists(text.contains)
      }
      .map(_.toString).toSet
    assert(found == Set("src/main/scala/graft/streaming/Replay.scala"))
  }
}

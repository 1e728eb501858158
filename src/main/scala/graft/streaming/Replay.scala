package graft.streaming

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

/** The replay-and-sink protocol of the streaming twins. Each twin
  * replays a batch table as a file stream, runs its query to the end of
  * that bounded input and drains the result back as a batch DataFrame,
  * which is what the twin returns. This is the only code that starts a
  * stream, owns its checkpoint or names a memory sink; the twins hold
  * only their query bodies.
  */
object Replay {

  /** The child session the twins run in: a clone of `s` with the
    * streaming state-partition sizing applied. Structured Streaming
    * pins the state-store partition count from
    * spark.sql.shuffle.partitions at the first run against a fresh
    * checkpoint, and each state partition carries its own store init +
    * per-commit overhead — so the twins size it to the state (a handful
    * of keys), not the CPU count. The sizing lives on the child, not on
    * the shared session's conf, and the memory-sink temp view registers
    * in the child, so callers must drain from the SAME session this
    * returns.
    *
    * There is one child per (parent, partition count), held in a map
    * keyed weakly on the parent. A clone per
    * call left one session per stream for the garbage collector, and
    * Spark's ArtifactManager cleanup of each collected session forks an
    * `rm -rf` on the JDK's `Cleaner-0` thread, in whatever code runs
    * next.
    *
    * Every call brings the child up to the parent's current state, as a
    * fresh clone would be: the parent's runtime SQL confs, and its
    * streaming listeners (StreamMicrobatchProfile's progress listener,
    * any production metrics hook), which a child's own
    * StreamingQueryManager would otherwise miss; a listener the parent
    * removed is dropped from the child.
    */
  private[graft] def sized(s: SparkSession, parts: String)
      : SparkSession = children.synchronized {
    val child = children.computeIfAbsent(s, _ => mutable.Map.empty)
      .getOrElseUpdate(parts,
        org.apache.spark.sql.graft.Bridge.cloneSession(s))
    val (pc, cc) = (s.conf.getAll, child.conf)
    (cc.getAll.keySet -- pc.keySet).filter(cc.isModifiable).foreach(cc.unset)
    pc.foreach { case (k, v) =>
      if (cc.isModifiable(k) && !cc.getOption(k).contains(v)) cc.set(k, v) }
    cc.set("spark.sql.shuffle.partitions", parts)
    val want = s.streams.listListeners.toSet
    val have = child.streams.listListeners.toSet
    (have -- want).foreach(child.streams.removeListener)
    (want -- have).foreach(child.streams.addListener)
    child
  }

  private val children =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, SparkSession]]

  private def runId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** Start `writer`, run it to the end of its input, stop it and delete
    * its checkpoint, all in finally nesting, so a failed run (or a
    * failing stop()) leaks no checkpoint. The checkpoint and state store
    * live on the scratch root (tmpfs): the default temp checkpoint lands
    * on the block device and is pure overhead for a bounded replay.
    */
  private[graft] def run(writer: DataStreamWriter[_]): Unit = {
    val ckpt = new File(s"${graft.Scratch.root}/graft_ckpt/${runId()}")
    try {
      val q = writer.option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    } finally FileUtils.deleteQuietly(ckpt)
  }

  /** `run` `ds` into a memory sink and return the sink's rows,
    * materialized (localCheckpoint: the result no longer references the
    * sink) and with the sink's temp view dropped. A per-run view name
    * keeps two runs in one session apart, and dropping the view keeps a
    * session from carrying one materialized result per run (Bench runs
    * every twin twice). The view lives in `ds`'s own session, the
    * `sized` clone for the twins that use one.
    */
  private[graft] def drain(ds: Dataset[_], mode: String): DataFrame = {
    val s = ds.sparkSession
    val name = s"graft_stream_${runId()}"
    try {
      run(ds.writeStream.outputMode(mode).format("memory").queryName(name))
      s.table(name).localCheckpoint()
    } finally s.catalog.dropTempView(name)
  }

  /** `events.parquet` of `d` as a file-source stream, `ts` normalized as
    * in batch reads (Tables.normalizeEventTs).
    */
  private[graft] def events(s: SparkSession, d: String): DataFrame =
    graft.Tables.normalizeEventTs(s.readStream
      .schema(graft.Tables.rawEventsSchema(s, d))
      .option("pathGlobFilter", "events.parquet")
      .parquet(d))

  /** The columns of every events replay batch (see `eventRows`). */
  private[graft] val EventsSchema: StructType = StructType(Seq(
    StructField("ts_us", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType), StructField("event_id", LongType),
    StructField("event_type", StringType)))

  /** A replay directory as a stream of one file per micro-batch, in the
    * batch order the files' modification times fix. A typed twin selects
    * the columns it reads before `.as[T]`: `.as` alone keeps every
    * column, and its stateful operator would shuffle them all.
    */
  private[graft] def replayStream(s: SparkSession, dir: String,
      schema: StructType = EventsSchema): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** `events.parquet` as replay rows: event time in epoch micros and
    * the four columns the twins read.
    */
  private[streaming] def eventRows(s: SparkSession, d: String): DataFrame =
    graft.Tables.normalizeEventTs(
      s.read.schema(graft.Tables.rawEventsSchema(s, d))
        .option("pathGlobFilter", "events.parquet").parquet(d))
      .select(unix_micros(col("ts")).as("ts_us"), col("user_id"),
        col("value"), col("event_id"), col("event_type"))

  /** One synthetic replay row at event time `tsUs` (user and event id
    * `id`, value 0): the sentinels and heartbeats that advance a
    * watermark.
    */
  private[streaming] def marker(s: SparkSession, tsUs: Long, id: Long,
      eventType: String): DataFrame = {
    import s.implicits._
    Seq((tsUs, id, 0.0d, id, eventType))
      .toDF("ts_us", "user_id", "value", "event_id", "event_type")
  }

  /** A replay of `d/source` on the scratch root: the `batches` frames
    * `split` returns, one parquet file each (`batch0.parquet`, ...), with
    * modification times a minute apart so a file source admits them in
    * that order. The directory is keyed by the source's fingerprint
    * (path, size, mtime) and `version`, so a regenerated source misses
    * it, and it appears only by atomic rename of a fully built temp dir.
    * tmpfs eviction can still hollow it out afterwards, so it is reused
    * only while every batch file is present, and rebuilt otherwise.
    * `split` runs only on a rebuild.
    */
  private[streaming] def replay(s: SparkSession, d: String, source: String,
      version: String, batches: Int)(split: => Seq[DataFrame]): String = {
    val src = new File(d, source)
    val desc =
      s"${src.getAbsolutePath}|${src.length}|${src.lastModified}|$version"
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val root = new File(s"${graft.Scratch.root}/graft_replay")
    val dir = new File(root, fp)
    val names = (0 until batches).map(i => s"batch$i.parquet")
    def complete = names.forall(n => new File(dir, n).exists())
    if (!complete) {
      FileUtils.deleteQuietly(dir)
      val tmp = new File(root, s".tmp-$fp-${runId()}")
      tmp.mkdirs()
      val parts = split
      require(parts.size == batches,
        s"$source replay: ${parts.size} batches, expected $batches")
      parts.zipWithIndex.foreach { case (df, i) =>
        val name = names(i)
        val stage = new File(tmp, s".stage_$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new File(tmp, name)
        java.nio.file.Files.move(part.toPath, dest.toPath)
        FileUtils.deleteDirectory(stage)
        dest.setLastModified(src.lastModified + i * 60000L)
      }
      // A lost rename is fine when a concurrent builder won: dir is then
      // complete. Anything else (a cross-device scratch root, a stale
      // partial dir) must fail here, not as an empty replay downstream.
      if (!tmp.renameTo(dir)) {
        FileUtils.deleteQuietly(tmp)
        if (!complete)
          throw new IllegalStateException(
            s"replay build failed: rename $tmp -> $dir failed and the " +
              s"target lacks one of ${names.mkString(", ")}: check that " +
              s"${graft.Scratch.root} is writable")
      }
    }
    dir.toString
  }
}

package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{Scratch, SparkEntry, SparkSuite}
import graft.operators.Advanced

/** The fork-free local file system: sessions use it, it sets the bits
  * Hadoop's `chmod` sets, and writes and streaming runs start no process.
  */
class NioLocalFileSystemSpec extends SparkSuite {

  override protected def shufflePartitions: Int = 2

  private val local = URI.create("file:///")

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    raw.initialize(local, new Configuration())
    raw
  }

  test("a Session.local session's file: FileSystem and FileContext are " +
      "the fork-free classes") {
    NioLocalFileSystem.SparkConfs.foreach { case (k, v) =>
      assert(sys.props.get(k).contains(v), s"JVM option $k")
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(local, hconf).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(local, hconf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }

  test("setPermission sets the bits chmod sets, without a process; a " +
      "sticky mode takes chmod") {
    val chmod = fs(new RawLocalFileSystem)
    val nio = fs(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("nio_perm")
    def mode(p: java.nio.file.Path): Int =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    try {
      for (kind <- Seq("file", "dir"); m <- Seq("644", "755", "700", "600")) {
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        val Seq(viaChmod, viaNio) = Seq("chmod", "nio").map { by =>
          val p = dir.resolve(s"${by}_${kind}_$m")
          if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
          // start from no bits, so every mode changes something
          Files.setPosixFilePermissions(p, java.util.EnumSet.noneOf(
            classOf[java.nio.file.attribute.PosixFilePermission]))
          p
        }
        chmod.setPermission(new Path(viaChmod.toUri), perm)
        val started =
          processStartsDuring(nio.setPermission(new Path(viaNio.toUri), perm))
        assert(started.isEmpty, s"$kind $m: $started")
        assert(mode(viaNio) == mode(viaChmod), s"$kind $m")
        assert(mode(viaNio) == Integer.parseInt(m, 8), s"$kind $m")
        assert(PosixFilePermissions.toString(
          Files.getPosixFilePermissions(viaNio)) == perm.toString)
      }
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      val started = processStartsDuring(nio.setPermission(
        new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8)
          .toShort)))
      assert(started.exists(_.contains("chmod")), s"$started")
      assert(mode(sticky) == Integer.parseInt("1777", 8))
    } finally cleanup(dir.toString)
  }

  test("getFileLinkStatus answers a qualified path like getFileStatus, " +
      "without a process") {
    val nio = fs(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("nio_link")
    try {
      val file = Files.writeString(dir.resolve("f"), "x")
      val q = new Path(file.toUri)
      val started = processStartsDuring {
        val st = nio.getFileLinkStatus(q)
        assert(!st.isSymlink && st.getLen == 1 && st.getPath == q)
      }
      assert(started.isEmpty, s"$started")
    } finally cleanup(dir.toString)
  }

  test("rewriting a bucketed copy starts no process") {
    val tbl = Advanced.bucketize(spark, sf, "orders", "o_orderkey")
    val path = Paths.get(s"${Scratch.root}/graft_bucketed/$tbl")
    // drop the copy, so that bucketize writes it again
    spark.sql(s"DROP TABLE $tbl")
    cleanup(path.toString)
    val started =
      processStartsDuring(Advanced.bucketize(spark, sf, "orders", "o_orderkey"))
    assert(Files.exists(path.resolve("_SUCCESS")), s"$path not rewritten")
    assert(started.isEmpty, s"${started.size} processes: ${started.take(3)}")
  }

  test("stateful streaming twins' checkpoints and state stores start no " +
      "process") {
    // once, so that the replay files exist and only the streams are traced
    SparkEntry.queries("q_streaming_lagfeat")(spark, sf)
    val started = processStartsDuring {
      SparkEntry.queries("q_streaming_lagfeat")(spark, sf)
      SparkEntry.queries("q_streaming_session")(spark, sf)
      ()
    }
    // Spark itself deletes each stream session's artifact directory with
    // `rm -rf`: a few per stream, not one per file written
    val fileSystem = started.filterNot(c =>
      c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(fileSystem.isEmpty,
      s"${fileSystem.size} processes: ${fileSystem.take(3)}")
    assert(started.size <= 8, s"${started.size} artifact deletions")
  }
}

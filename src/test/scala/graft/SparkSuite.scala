package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Base of every spec that runs Spark. All specs of one test JVM share one
  * session, so each spec re-applies the factory's confs and its own
  * shuffle partition count before its first test: no spec sees a conf an
  * earlier one left behind.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(4)

  /** Shuffle partitions this spec's tests are written against. */
  protected def shufflePartitions: Int = 4

  protected val sf = "/root/testdata/sf0.001"

  protected def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
  }

  /** Spark jobs started while `body` runs; the listener bus is drained
    * before and after, so the count is exact.
    */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  protected def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  protected def cleanup(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }
}

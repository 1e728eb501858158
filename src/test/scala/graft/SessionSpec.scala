package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestFailed}

/** The session factory: one planner surface and one set of confs for
  * every entry point, and specs that do not leak confs into each other.
  */
class SessionSpec extends SparkSuite {

  test("a second local() registers nothing twice and re-applies the " +
    "factory confs") {
    val first = Session.local(4)
    first.conf.set("spark.sql.shuffle.partitions", "7")
    first.conf.set("spark.sql.session.timeZone", "America/New_York")
    val second = Session.local(4)
    assert(second eq first)
    val strategies = second.experimental.extraStrategies
    val rules = second.experimental.extraOptimizations
    assert(strategies.count(_ == plans.TopKStrategy) == 1, strategies)
    assert(rules.count(_ == plans.RowNumberTopKRewrite) == 1, rules)
    assert(second.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(second.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("only the factory and the spark-submit entry point build a " +
    "session") {
    // Spelled in two parts so this file does not match itself.
    val call = "SparkSession" + ".builder"
    val allowed = Map(
      // the one factory every main and spec uses
      "src/main/scala/graft/Session.scala" -> 1,
      // master and confs come from spark-submit / SPARK_MASTER, and it
      // borrows a live session when embedded
      "src/main/scala/graft/xml/Main.scala" -> 1)
    val src = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    val pattern = java.util.regex.Pattern.quote(call).r
    def uses(p: Path): Int = pattern.findAllMatchIn(Files.readString(p)).size
    val found = src.map(p => p.toString -> uses(p)).filter(_._2 > 0).toMap
    assert(found == allowed)
  }

  test("a conf a spec changes is reset for the next spec") {
    class Changes extends SparkSuite {
      test("changes the shared session") {
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      }
    }
    class Next extends SparkSuite {
      override protected def shufflePartitions: Int = 2
      test("sees its own confs") {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
        assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      }
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reporter = new Reporter {
      def apply(e: Event): Unit = e match {
        case f: TestFailed => failures.add(f.message)
        case _ => ()
      }
    }
    try {
      Seq(new Changes, new Next).foreach(s =>
        assert(s.run(None, Args(reporter)).succeeds(), failures))
    } finally spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions.toString)
    assert(failures.isEmpty, failures)
  }
}

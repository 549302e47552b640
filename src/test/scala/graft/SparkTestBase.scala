package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session across all suites (Spark startup dominates test
  * wall-clock otherwise). Config mirrors Verify.scala. */
object TestSpark {
  lazy val spark: SparkSession = {
    // the engine's own factory (installs graft.GraftExtensions, so the
    // SQL-registered native functions are testable)
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  /** Smallest fixture scale — golden assertions only. */
  val SF = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs on this thread: a listener
    * counts the jobs that carry this call's local property, so jobs of
    * other threads never count. */
  def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val prop = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(prop) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(prop, tag)
    try body
    finally {
      sc.setLocalProperty(prop, null)
      ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** A session on the shared context whose one-task threshold
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, which
    * [[graft.SmallPlanRule]] reads) is below every fixture's size, so its
    * plans keep the exchanges a large input plans. */
  lazy val largeInputSpark: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    s
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** `f`'s result and the Spark jobs it ran: job starts tagged with a
    * fresh job group, counted once a later barrier job's start shows the
    * listener bus has delivered them all. */
  protected def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => jobs.incrementAndGet()
          case g if g == tag + "-barrier" => delivered.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(tag + "-barrier", "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(delivered.await(60, TimeUnit.SECONDS), "listener bus never drained")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

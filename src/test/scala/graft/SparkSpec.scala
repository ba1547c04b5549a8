package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId
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

  /** `f`'s result and the bytes its tasks sent the driver as results:
    * Spark's task `resultSize`, what `spark.driver.maxResultSize` counts. */
  protected def resultBytesOf[T](f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val tag = s"measured-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(tag))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "measured")
      val out = try f finally sc.clearJobGroup()
      jobsOf(()) // its barrier job drains the listener bus
      (out, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The RDDs pinned while `f` runs: each RDD a block was stored for, and
    * each RDD persisted at a job start that was not persisted before. */
  protected def pinnedDuring(f: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        (sc.getPersistentRDDs.keySet -- before).foreach(seen.add)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid => seen.add(rdd)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      f
      (sc.getPersistentRDDs.keySet -- before).foreach(seen.add)
      jobsOf(()) // its barrier job drains the listener bus
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSet
  }
}

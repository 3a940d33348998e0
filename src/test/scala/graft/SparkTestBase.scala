package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all suites (getOrCreate dedups across suites). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cancels the calling test when `path` is absent: the reference
    * checkout's testdata is not part of this repository, so tests that
    * replay it run only where the checkout is present.
    */
  protected def assumePath(path: String): Unit =
    assume(Files.exists(Paths.get(path)), s"$path is absent")

  /** Spark jobs that `body` starts on the calling thread. A listener counts
    * jobs in a job group of their own; a sentinel job in a second group
    * then flushes the listener bus, which delivers events in order.
    */
  protected def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-${java.util.UUID.randomUUID()}"
    val counted = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == group + "-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }
}

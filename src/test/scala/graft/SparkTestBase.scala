package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

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
}

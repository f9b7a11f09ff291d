package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  // One session per JVM — ScalaTest suites share it; Spark local mode
  // only supports one context anyway.
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}

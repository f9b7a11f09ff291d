package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Count the root SQL executions of `body`, waiting for the async
    * listener bus to drain (count stable for 400 ms, bounded at 5 s). */
  def countExecs(body: => Unit): Int = {
    val counter = new SparkTestBase.ExecCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      var last = -1
      var stableSince = System.nanoTime()
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() < deadline &&
             (last != counter.n.get() || System.nanoTime() - stableSince < 400000000L)) {
        if (last != counter.n.get()) { last = counter.n.get(); stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
      counter.n.get()
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}

object SparkTestBase {
  // One session per JVM — ScalaTest suites share it; Spark local mode
  // only supports one context anyway.
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")

  private class ExecCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => n.incrementAndGet()
        case _ => ()
      }
  }
}

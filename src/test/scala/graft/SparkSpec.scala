package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates suite time otherwise). Built through GraftSession.configure so
  * the specs run under the SAME session contract as the engine mains —
  * a contract flag the tests rely on (AQE, UTC, nanosAsLong) can't drift
  * out of `configure` without a spec noticing; the builder is
  * GraftSession.localBuilder, so the local-only rules (driver-side file
  * listing) are the mains' too. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.configure(GraftSession.localBuilder(4)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` and returns how many distributed file-listing jobs
    * ("Listing leaf files") it started, counted once every listener event
    * has been delivered. */
  def listingJobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files")))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBus.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

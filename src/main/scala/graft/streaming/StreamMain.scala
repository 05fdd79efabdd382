package graft.streaming

import graft.gen.WeatherGenerator
import graft.sources.JsonEnvelope
import graft.GraftSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.time.LocalDateTime

/** CLI for EP1: generate seeded envelope batches and run the dual-sink
  * streaming enrichment over them (AvailableNow = drain-and-stop), then
  * report both sinks. Usage:
  *   runMain graft.streaming.StreamMain <workDir> [batches] [seed] */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-stream")
    val batches = if (args.length > 1) args(1).toInt else 24
    val seed = if (args.length > 2) args(2).toLong else 42L

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-stream")
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$work/raw").exists()) {
      WeatherGenerator.writeBatches(s"$work/raw",
        LocalDateTime.of(2026, 8, 12, 6, 0), batches, intervalSeconds = 900, seed = seed)
      println(s"generated $batches envelope batches under $work/raw")
    }

    val query = EnrichStream.start(
      JsonEnvelope.readStream(spark, s"$work/raw"),
      s"$work/processed", s"$work/alerts", s"$work/ckpt",
      trigger = Trigger.AvailableNow())
    // sinks of a drain still running are partial: stop, say so, report none
    if (!query.awaitTermination(120000)) {
      val status = query.status.message
      val last = Option(query.lastProgress)
        .fold("no micro-batch completed")(p => s"last completed micro-batch ${p.batchId}")
      query.stop()
      System.err.println(s"drain of $work/raw did not finish within 120 s " +
        s"($last; still: $status); stopped, sinks under $work left partial")
      spark.stop()
      sys.exit(1)
    }

    val processed = spark.read.parquet(s"$work/processed")
    val alerts = spark.read.parquet(s"$work/alerts")
    println(s"processed rows: ${processed.count()} (partitions: " +
      processed.select("year", "month", "day", "hour").distinct().count() + " hourly)")
    println("alert distribution:")
    processed.groupBy("alert_level").count().orderBy(desc("count")).show(false)
    println(s"alert-sink rows: ${alerts.count()}")
    spark.stop()
  }
}

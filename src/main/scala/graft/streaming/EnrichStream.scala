package graft.streaming

import graft.functions.Enrich
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * The reference's core streaming path (EP1, glue_weather_etl.py:540-595):
 * envelope stream → parse/flatten → six enrichment families
 * ([[graft.functions.Enrich.chain]]) → dual Parquet fan-out (full
 * processed + filtered alerts), event-time partitioned.
 *
 * Differences from the reference, deliberate:
 *  - one lineage, BOTH sinks written per micro-batch via foreachBatch —
 *    the reference starts two independent queries that each re-read and
 *    re-enrich the source (double compute at scale);
 *  - partition columns derived from event time (the reference references
 *    year/month/day/hour without ever creating them);
 *  - stateless: no watermark needed (no event-time aggregation here).
 */
object EnrichStream {

  /** The shared enrichment chain over the envelope readings, keyed on
    * the parsed `timestamp` — identical lineage batch or streaming
    * (Structured Streaming's promise). */
  def enrich(readings: DataFrame): DataFrame =
    Enrich.chain(readings.withColumn("timestamp_parsed", to_timestamp(col("timestamp"))),
      "timestamp_parsed")

  def alertsOnly(enriched: DataFrame): DataFrame =
    enriched.filter(Enrich.isAlert(col("alert_level")))

  /**
   * Start the dual-sink job: single pass per micro-batch, processed +
   * alerts written from the same enriched batch (persist → two writes →
   * unpersist), exactly-once via the checkpoint.
   */
  def start(readings: DataFrame, processedPath: String, alertsPath: String,
            checkpointPath: String, trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    val enriched = enrich(readings)
    enriched.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val withParts = graft.sources.PartitionedStore
          .withTimePartitions(batch, "timestamp_parsed")
          .persist()
        try {
          withParts.write.mode("append")
            .partitionBy("year", "month", "day", "hour").parquet(processedPath)
          alertsOnly(withParts).write.mode("append")
            .partitionBy("year", "month", "day", "hour").parquet(alertsPath)
        } finally withParts.unpersist()
        ()
      }
      .start()
  }
}

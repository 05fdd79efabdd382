package graft.pipeline

import graft.analytics.DailySummary
import graft.sources.{JsonEnvelope, PartitionedStore}
import graft.streaming.EnrichStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * EP2 — the reference's daily batch path (X1-X3, weather_dag.py:457 →
 * load_to_postgres.py:482-533) as a sequential driver:
 *
 *   load raw envelopes → enrich → dedup-append to the readings store
 *   (ON CONFLICT DO NOTHING) → daily summary → partition-overwrite upsert
 *   → validate → report.
 *
 * Idempotent under re-runs (the reference's Airflow retries ×3): the store
 * append is a left-anti join on (station_id, timestamp); the summary is a
 * dynamic partition overwrite keyed by reading_date.
 */
object BatchPipeline {

  final case class Result(
      loadedRows: Long,
      storedNew: Long,
      summaryRows: Long,
      avgQuality: Double,
      validationPassed: Boolean,
      report: String)

  def run(spark: SparkSession, rawDir: String, storeDir: String, summaryDir: String,
          minQuality: Double = 80.0): Result = {
    // 1. load + enrich (the lineage the streaming job runs — EP1 ≡ EP2).
    // persist: the pipeline runs several actions (store append, summary,
    // validation) over this lineage — without caching, each re-reads and
    // re-enriches the raw JSON.
    val enriched = EnrichStream.enrich(JsonEnvelope.readBatch(spark, s"$rawDir/*/*/*/*")).persist()
    // the load statistics in one pass (it also fills the cache)
    val stats = enriched.agg(count(lit(1)), avg(col("data_quality_score")),
      countDistinct(col("city"))).head()
    val loaded = stats.getLong(0)
    val avgQuality = if (stats.isNullAt(1)) Double.NaN else stats.getDouble(1)
    val cities = stats.getLong(2)

    // 2. dedup-append (D1 + D2): unique on (station_id, timestamp)
    val withParts = PartitionedStore.withTimePartitions(enriched, "timestamp_parsed")
    val storedNew = PartitionedStore.appendIfAbsent(
      spark, withParts, storeDir,
      keys = Seq("station_id", "timestamp"),
      partitionCols = Seq("year", "month", "day", "hour"))

    // 3. daily summary (A1-A5) + upsert-as-overwrite (D3). The read-back
    // states the schema: a load with no readings leaves no summary file
    // to infer it from.
    val summary = DailySummary.compute(enriched, "city", "reading_date")
    PartitionedStore.overwriteGroups(summary, summaryDir, Seq("reading_date"))
    val summaryStored = spark.read.schema(summary.schema).parquet(summaryDir)
    val summaryRows = summaryStored.count()

    // 4. validate (X2: counts > 0, avg quality >= threshold, all stations seen)
    val ok = loaded > 0 && avgQuality >= minQuality && summaryRows > 0

    // 5. report (X3)
    val lines = summaryStored
      .orderBy(col("reading_date").desc, col("city"))
      .select("city", "reading_date", "avg_temperature", "reading_count", "alert_percentage")
      .limit(20).collect()
      .map(r => f"${r.getString(0)}%-10s ${r.get(1)} avg=${r.getDouble(2)}%.2f n=${r.getLong(3)} alerts=${r.getDouble(4)}%.1f%%")
    val report =
      s"""Weather batch pipeline
         |  loaded=$loaded storedNew=$storedNew cities=$cities
         |  avgQuality=$avgQuality validation=${if (ok) "PASSED" else "FAILED"}
         |${lines.mkString("\n")}""".stripMargin

    val result = Result(loaded, storedNew, summaryRows, avgQuality, ok, report)
    enriched.unpersist()
    result
  }
}

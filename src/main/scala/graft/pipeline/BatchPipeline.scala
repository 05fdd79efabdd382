package graft.pipeline

import graft.analytics.DailySummary
import graft.sources.{JsonEnvelope, PartitionedStore}
import graft.streaming.EnrichStream
import org.apache.spark.sql.{Observation, SparkSession}
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
    // Every number in the Result is observed on an execution that does the
    // work anyway (the store write, the summary write, the report): no
    // Spark job of the run only counts.
    //
    // 1. load + enrich (the lineage the streaming job runs — EP1 ≡ EP2),
    // read from the archive root. persist: the store write fills the cache,
    // the summary reads it.
    val enriched = EnrichStream.enrich(JsonEnvelope.readBatch(spark, rawDir)).persist()

    // 2. dedup-append (D1 + D2): unique on (station_id, timestamp); the load
    // statistics ride on the same execution
    val load = Observation()
    val withParts = PartitionedStore.withTimePartitions(
      enriched.observe(load, count(lit(1)).as("rows"), avg(col("data_quality_score")).as("quality")),
      "timestamp_parsed")
    val storedNew = PartitionedStore.appendIfAbsent(
      spark, withParts, storeDir,
      keys = Seq("station_id", "timestamp"),
      partitionCols = Seq("year", "month", "day", "hour"))
    val loaded = load.get("rows").asInstanceOf[Long]
    val avgQuality = Option(load.get("quality")).fold(Double.NaN)(_.asInstanceOf[Double])

    // 3. daily summary (A1-A5) + upsert-as-overwrite (D3). Cities are
    // observed on the summary rows (at most cities × days of them):
    // observations take no distinct aggregate.
    val summary = DailySummary.compute(enriched, "city", "reading_date")
    val seen = Observation()
    PartitionedStore.overwriteGroups(
      summary.observe(seen, size(collect_set(col("city"))).as("cities")),
      summaryDir, Seq("reading_date"))
    val cities = seen.get("cities").asInstanceOf[Int]

    // 4. report (X3), which also counts the stored summary. The read states
    // the schema: a load with no readings leaves no summary file to infer it
    // from.
    val stored = Observation()
    val lines = spark.read.schema(summary.schema).parquet(summaryDir)
      .observe(stored, count(lit(1)).as("rows"))
      .orderBy(col("reading_date").desc, col("city"))
      .select("city", "reading_date", "avg_temperature", "reading_count", "alert_percentage")
      .limit(20).collect()
      .map(r => f"${r.getString(0)}%-10s ${r.get(1)} avg=${r.getDouble(2)}%.2f n=${r.getLong(3)} alerts=${r.getDouble(4)}%.1f%%")
    val summaryRows = stored.get("rows").asInstanceOf[Long]

    // 5. validate (X2: counts > 0, avg quality >= threshold, all stations seen)
    val ok = loaded > 0 && avgQuality >= minQuality && summaryRows > 0
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

package graft.analytics

import graft.functions.Enrich
import graft.operators.Aggregates
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's daily aggregation (A1-A5, load_to_postgres.py:395-445):
 * per (city, reading_date) — avg/min/max temperature, avg heat index /
 * humidity / pressure / wind, sum+max precipitation, reading count,
 * dominant (mode) comfort and severity, conditional counts per alert tier,
 * percentage of alerting readings, avg quality score. All rounded to 2 dp
 * with the cross-engine floor-rounding (Enrich.roundAt).
 *
 * Scale shape — ONE aggregation pass: all 18 outputs, including both
 * deterministic modes (DeterministicModeAgg, a typed Aggregator whose
 * value→count buffer merges map-side like any partial aggregate), come
 * from a single groupBy(city, date) — one scan of the readings, one
 * exchange carrying combiners. Earlier shapes (three aggregations joined,
 * or fine-granularity partials) re-scanned the readings per branch because
 * column pruning makes the branch subplans non-identical, defeating
 * exchange reuse.
 */
object DailySummary {

  def compute(enriched: DataFrame, cityCol: String = "city", dateCol: String = "reading_date"): DataFrame = {
    import Aggregates._
    def r2(c: Column) = Enrich.roundAt(c, 2)
    def modeOf(c: String) = graft.expressions.DeterministicModeAgg.modeOf(col(c))

    enriched.groupBy(col(cityCol), col(dateCol)).agg(
      r2(exactAvg(col("temperature_celsius"))).as("avg_temperature"),
      min(col("temperature_celsius")).as("min_temperature"),
      max(col("temperature_celsius")).as("max_temperature"),
      r2(exactAvg(col("heat_index_celsius"))).as("avg_heat_index"),
      r2(exactAvg(col("humidity_percent"))).as("avg_humidity"),
      r2(exactAvg(col("pressure_hpa"))).as("avg_pressure"),
      r2(exactAvg(col("wind_speed_kmh"))).as("avg_wind_speed"),
      r2(exactSum(col("precipitation_mm"))).as("total_precipitation"),
      max(col("precipitation_mm")).as("max_precipitation"),
      count(lit(1)).as("reading_count"),
      countIf(col("alert_level") === "NORMAL").as("normal_count"),
      countIf(col("alert_level") === "WATCH").as("watch_count"),
      countIf(col("alert_level") === "WARNING").as("warning_count"),
      countIf(col("alert_level") === "CRITICAL").as("critical_count"),
      r2(pctIf(Enrich.isAlert(col("alert_level")))).as("alert_percentage"),
      r2(exactAvg(col("data_quality_score"))).as("avg_quality_score"),
      modeOf("comfort_level").as("dominant_comfort"),
      modeOf("weather_severity").as("dominant_severity"))
  }
}

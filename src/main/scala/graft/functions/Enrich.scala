package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Scalar enrichment functions — the reference pipeline's six transformation
 * families re-expressed as pure, codegen-friendly Spark Column expressions
 * (no UDFs anywhere; every function below compiles into whole-stage codegen).
 *
 * Semantics derive from the reference (study targets, not copied code):
 *  - temperature conversions: glue_weather_etl.py:200-210
 *  - comfort classification:  glue_weather_etl.py:233-240
 *  - weather severity:        glue_weather_etl.py:262-276
 *  - alert level:             glue_weather_etl.py:299-323
 *  - validity + quality:      glue_weather_etl.py:408-430
 *  - heat index (Rothfusz):   api/app.py:28-50
 *
 * All classification chains are ORDER-DEPENDENT first-match `when` chains —
 * branch order is part of the contract and is preserved exactly.
 */
object Enrich {

  /**
   * Deterministic fixed-point rounding: floor(x * 10^scale + 0.5) / 10^scale.
   *
   * Used instead of Spark's `round()` because engines disagree on halfway
   * binary edge cases (Spark rounds the exact binary value via BigDecimal
   * HALF_UP; DuckDB/C round the scaled double) — e.g. round(2.675, 2) is
   * 2.67 in Spark but 2.68 in DuckDB. This formula is pure IEEE-754 double
   * arithmetic, so any engine evaluating it bit-matches any other. For
   * positive inputs it equals HALF_UP on the scaled double.
   */
  def roundAt(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    floor(c * f + lit(0.5)) / f
  }

  /** Fahrenheit = (C * 9/5) + 32, 1 decimal. */
  def celsiusToFahrenheit(c: Column): Column = roundAt(c * 9.0 / 5.0 + 32.0, 1)

  /** Kelvin = C + 273.15, 1 decimal. */
  def celsiusToKelvin(c: Column): Column = roundAt(c + 273.15, 1)

  /**
   * NOAA Rothfusz heat index, °C in / °C out (api/app.py:28-50 semantics):
   * passthrough below 80 °F; Steadman simple formula; if the simple result
   * exceeds 79 (°F), the full 9-term regression. Result rounded to 1 dp
   * (passthrough branch is NOT rounded, matching the reference).
   */
  def heatIndex(tempC: Column, humidity: Column): Column = {
    val tF = tempC * 9.0 / 5.0 + 32.0
    val simple = lit(0.5) * (tF + 61.0 + (tF - 68.0) * 1.2 + humidity * 0.094)
    val full =
      lit(-42.379) +
        lit(2.04901523) * tF +
        lit(10.14333127) * humidity -
        lit(0.22475541) * tF * humidity -
        lit(0.00683783) * tF * tF -
        lit(0.05481717) * humidity * humidity +
        lit(0.00122874) * tF * tF * humidity +
        lit(0.00085282) * tF * humidity * humidity -
        lit(0.00000199) * tF * tF * humidity * humidity
    val hi = when(simple > 79.0, full).otherwise(simple)
    when(tF < 80.0, tempC).otherwise(roundAt((hi - 32.0) * 5.0 / 9.0, 1))
  }

  /** 5-way comfort classification on heat index °C; cutoffs 27/32/41/54. */
  def comfortLevel(heatIndexC: Column): Column =
    when(heatIndexC < 27.0, "Comfortable")
      .when(heatIndexC < 32.0, "Caution")
      .when(heatIndexC < 41.0, "Extreme Caution")
      .when(heatIndexC < 54.0, "Danger")
      .otherwise("Extreme Danger")

  /**
   * Multi-factor severity, exact reference branch order:
   * precip>50 → Extreme; precip>25 → Severe; wind>60 → Severe; vis<1 →
   * Severe; (precip>10 | wind>40 | vis<3) → Moderate; uv>10 → Moderate;
   * else Normal.
   */
  def weatherSeverity(precipMm: Column, windKmh: Column, visKm: Column, uv: Column): Column =
    when(precipMm > 50.0, "Extreme")
      .when(precipMm > 25.0, "Severe")
      .when(windKmh > 60.0, "Severe")
      .when(visKm < 1.0, "Severe")
      .when(precipMm > 10.0 || windKmh > 40.0 || visKm < 3.0, "Moderate")
      .when(uv > 10.0, "Moderate")
      .otherwise("Normal")

  /**
   * 4-tier alerting, exact reference branch order:
   * CRITICAL: heat>54 | precip>50 | wind>80
   * WARNING:  heat>41 | precip>25 | wind>60 | vis<2 | uv>10
   * WATCH:    heat>32 | precip>10 | wind>40 | uv>8
   * else NORMAL.
   */
  def alertLevel(heatC: Column, precipMm: Column, windKmh: Column, visKm: Column, uv: Column): Column =
    when(heatC > 54.0 || precipMm > 50.0 || windKmh > 80.0, "CRITICAL")
      .when(heatC > 41.0 || precipMm > 25.0 || windKmh > 60.0 || visKm < 2.0 || uv > 10.0, "WARNING")
      .when(heatC > 32.0 || precipMm > 10.0 || windKmh > 40.0 || uv > 8.0, "WATCH")
      .otherwise("NORMAL")

  /** The alerting tiers: the alerts sink, the recent-alerts view, the
    * daily alert percentage and the alert streaks all count exactly
    * these levels. */
  val AlertTiers: Seq[String] = Seq("WARNING", "CRITICAL")

  def isAlert(alertLevel: Column): Column = alertLevel.isin(AlertTiers: _*)

  /** One reference CHECK range (sql/create_tables.sql:70-72): `column`
    * is valid when it lies in [lo, hi]. */
  final case class ValidRange(name: String, column: String, lo: Double, hi: Double) {
    def holds: Column = col(column).between(lo, hi)
  }

  /** The reference's CHECK ranges — read by the `is_valid_<name>` flags
    * below and by `QualityChecks.weatherChecks`. */
  val ValidRanges: Seq[ValidRange] = Seq(
    ValidRange("temperature", "temperature_celsius", -50, 60),
    ValidRange("humidity", "humidity_percent", 0, 100),
    ValidRange("pressure", "pressure_hpa", 950, 1050))

  /**
   * Data-quality score: share of passing validity checks × 100 →
   * {0, 33.3…, 66.6…, 100} for three checks.
   */
  def qualityScore(checks: Column*): Column = {
    val total = checks.map(_.cast("int")).reduce(_ + _)
    total.cast("double") / checks.size.toDouble * 100.0
  }

  /**
   * The six enrichment families as one DataFrame → DataFrame transform —
   * the lineage the stream, the daily batch and the weather gates all
   * run. `readings` carries the reference reading columns (including
   * `heat_index_celsius`); `eventTime` names its timestamp column, from
   * which the time features and `reading_date` derive.
   */
  def chain(readings: DataFrame, eventTime: String): DataFrame = {
    val ts = col(eventTime)
    val featured = readings
      .withColumn("temperature_fahrenheit", Enrich.celsiusToFahrenheit(col("temperature_celsius")))
      .withColumn("temperature_kelvin", Enrich.celsiusToKelvin(col("temperature_celsius")))
      .withColumn("comfort_level", Enrich.comfortLevel(col("heat_index_celsius")))
      .withColumn("weather_severity", Enrich.weatherSeverity(
        col("precipitation_mm"), col("wind_speed_kmh"), col("visibility_km"), col("uv_index")))
      .withColumn("alert_level", Enrich.alertLevel(
        col("heat_index_celsius"), col("precipitation_mm"), col("wind_speed_kmh"),
        col("visibility_km"), col("uv_index")))
      .withColumn("hour_of_day", TimeFeatures.hourOfDay(ts))
      .withColumn("day_of_week", TimeFeatures.dayOfWeek(ts))
      .withColumn("is_weekend", TimeFeatures.isWeekend(ts))
      .withColumn("time_of_day", TimeFeatures.timeOfDay(ts))
      .withColumn("season", TimeFeatures.season(ts))
      .withColumn("reading_date", TimeFeatures.readingDate(ts))
    val flags = ValidRanges.map(r => s"is_valid_${r.name}")
    ValidRanges.zip(flags)
      .foldLeft(featured) { case (df, (r, flag)) => df.withColumn(flag, r.holds) }
      .withColumn("data_quality_score", Enrich.qualityScore(flags.map(col): _*))
  }
}

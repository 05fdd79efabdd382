package graft.gates

import graft.SparkEntry.{enrichedFullShared, enrichedShared}
import graft.functions.Enrich
import graft.operators.Aggregates
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weather enrichment and analytics gates: the six enrichment families
  * over the synthetic reading, the alert filter and distribution, the
  * daily summary, current-status view, city trends, quality checks and
  * health stats. The engine side runs the shared enrichment chain
  * (`Enrich.chain`, the stream's and the daily batch's lineage); its
  * DuckDB twin lives here. */
object WeatherGates {

  val gates: Seq[Gate] = Seq(
    Gate("q11_weather_enrichment")((s, dir) => enrichedShared(s, dir))(enrichedSql),

    // P4/P5: alert filter + column-subset projection.
    Gate("q12_alert_filter")((s, dir) =>
      enrichedShared(s, dir)
        .filter(Enrich.isAlert(col("alert_level")))
        .select("event_id", "alert_level", "weather_severity", "heat_index_celsius",
          "precipitation_mm", "wind_speed_kmh", "visibility_km", "uv_index")) {
      s"""SELECT event_id, alert_level, weather_severity, heat_index_celsius,
         | precipitation_mm, wind_speed_kmh, visibility_km, uv_index
         |FROM ($enrichedSql) WHERE alert_level IN ('WARNING','CRITICAL')""".stripMargin
    },

    // A6 over the derived alert level.
    Gate("q13_alert_distribution")((s, dir) =>
      Aggregates.distributionWithPct(enrichedShared(s, dir), "alert_level")) {
      s"""SELECT alert_level, CAST(count(*) AS BIGINT) AS cnt,
         | CAST(count(*) AS DOUBLE)*100.0/CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
         |FROM ($enrichedSql) GROUP BY alert_level""".stripMargin
    },

    // The reference's flagship daily aggregation incl. deterministic modes.
    Gate("q25_daily_weather_summary")((s, dir) =>
      graft.analytics.DailySummary.compute(enrichedFullShared(s, dir))) {
      // roundAt(c, 2) twin: floor(c*100.0+0.5)/100.0
      def r2(c: String) = s"floor(($c)*100.0+0.5)/100.0"
      def decAvg(c: String) = s"CAST(sum(CAST($c AS DECIMAL(28,6))) AS DOUBLE)/count($c)"
      def cntIf(cond: String) = s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)"
      def modeCte(valueCol: String, as: String) =
        s"""SELECT city, reading_date, $valueCol AS $as FROM (
           |  SELECT city, reading_date, $valueCol,
           |   row_number() OVER (PARTITION BY city, reading_date
           |                      ORDER BY count(*) DESC, $valueCol ASC) AS rn
           |  FROM e GROUP BY city, reading_date, $valueCol) WHERE rn=1""".stripMargin
      s"""WITH e AS ($enrichedFullSql),
         |num AS (
         | SELECT city, reading_date,
         |  ${r2(decAvg("temperature_celsius"))} AS avg_temperature,
         |  min(temperature_celsius) AS min_temperature,
         |  max(temperature_celsius) AS max_temperature,
         |  ${r2(decAvg("heat_index_celsius"))} AS avg_heat_index,
         |  ${r2(decAvg("humidity_percent"))} AS avg_humidity,
         |  ${r2(decAvg("pressure_hpa"))} AS avg_pressure,
         |  ${r2(decAvg("wind_speed_kmh"))} AS avg_wind_speed,
         |  ${r2("CAST(sum(CAST(precipitation_mm AS DECIMAL(28,6))) AS DOUBLE)")} AS total_precipitation,
         |  max(precipitation_mm) AS max_precipitation,
         |  CAST(count(*) AS BIGINT) AS reading_count,
         |  ${cntIf("alert_level='NORMAL'")} AS normal_count,
         |  ${cntIf("alert_level='WATCH'")} AS watch_count,
         |  ${cntIf("alert_level='WARNING'")} AS warning_count,
         |  ${cntIf("alert_level='CRITICAL'")} AS critical_count,
         |  ${r2("CAST(sum(CASE WHEN alert_level IN ('WARNING','CRITICAL') THEN 1 ELSE 0 END) AS DOUBLE)*100.0/count(*)")} AS alert_percentage,
         |  ${r2(decAvg("data_quality_score"))} AS avg_quality_score
         | FROM e GROUP BY city, reading_date),
         |cm AS (${modeCte("comfort_level", "dominant_comfort")}),
         |sv AS (${modeCte("weather_severity", "dominant_severity")})
         |SELECT num.*, dominant_comfort, dominant_severity
         |FROM num JOIN cm USING (city, reading_date) JOIN sv USING (city, reading_date)""".stripMargin
    },

    // current_weather_status view: latest enriched reading per city (J1/W2).
    Gate("q26_current_weather_status")((s, dir) =>
      graft.analytics.Views.currentStatus(
        enrichedFullShared(s, dir), "city", "ts", tieBreak = "event_id")
        .select(col("city"), col("event_id"), unix_timestamp(col("ts")).as("ts_epoch"),
          col("temperature_celsius"), col("alert_level"), col("comfort_level"))) {
      s"""SELECT city, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         | temperature_celsius, alert_level, comfort_level
         |FROM (SELECT *, row_number() OVER (PARTITION BY city ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM ($enrichedFullSql)) WHERE rn=1""".stripMargin
    },

    // A8: health/system stats — global counts, exact distinct, freshness.
    Gate("q35_health_stats")((s, dir) => {
      import Aggregates._
      enrichedShared(s, dir).agg(
        count(lit(1)).as("reading_count"),
        countDistinct(col("uv_index")).as("distinct_uv_levels"),
        max(col("event_id")).as("latest_event_id"),
        exactAvg(col("data_quality_score")).as("avg_quality"),
        countIf(col("alert_level") =!= "NORMAL").as("alerting_count"))
    }) {
      s"""SELECT CAST(count(*) AS BIGINT) AS reading_count,
         | CAST(count(DISTINCT uv_index) AS BIGINT) AS distinct_uv_levels,
         | max(event_id) AS latest_event_id,
         | CAST(sum(CAST(data_quality_score AS DECIMAL(28,6))) AS DOUBLE)/count(data_quality_score) AS avg_quality,
         | CAST(sum(CASE WHEN alert_level <> 'NORMAL' THEN 1 ELSE 0 END) AS BIGINT) AS alerting_count
         |FROM ($enrichedSql)""".stripMargin
    },

    // Data-quality checks: one aggregation pass, one row per check.
    Gate("q37_quality_checks")((s, dir) => {
      import graft.analytics.QualityChecks
      val weather = enrichedShared(s, dir)
        .withColumn("station_id", concat(lit("E"), col("event_id")))
        .withColumn("timestamp", lit("x"))
      QualityChecks.run(weather, QualityChecks.weatherChecks(weather))
    }) {
      s"""WITH e AS ($enrichedSql),
         |agg AS (
         | SELECT
         |  0::BIGINT AS null_station_id,
         |  0::BIGINT AS null_timestamp,
         |  CAST(sum(CASE WHEN NOT (temperature_celsius BETWEEN -50 AND 60) THEN 1 ELSE 0 END) AS BIGINT) AS temperature_out_of_range,
         |  CAST(sum(CASE WHEN NOT (humidity_percent BETWEEN 0 AND 100) THEN 1 ELSE 0 END) AS BIGINT) AS humidity_out_of_range,
         |  CAST(sum(CASE WHEN NOT (pressure_hpa BETWEEN 950 AND 1050) THEN 1 ELSE 0 END) AS BIGINT) AS pressure_out_of_range,
         |  CAST(sum(CASE WHEN NOT (uv_index BETWEEN 0 AND 15) THEN 1 ELSE 0 END) AS BIGINT) AS uv_out_of_range,
         |  CAST(count(*) AS BIGINT) AS total
         | FROM e)
         |SELECT c.check_name, c.violations, total, c.violations = 0 AS pass FROM agg,
         | LATERAL (VALUES
         |  ('null_station_id', null_station_id),
         |  ('null_timestamp', null_timestamp),
         |  ('temperature_out_of_range', temperature_out_of_range),
         |  ('pressure_out_of_range', pressure_out_of_range),
         |  ('humidity_out_of_range', humidity_out_of_range),
         |  ('uv_out_of_range', uv_out_of_range)) AS c(check_name, violations)""".stripMargin
    },

    // Trend analytics: day-over-day delta + lag-based 3-day moving average
    // per city (lead/lag + frame semantics over aggregated rows — windows
    // run on daily cardinality, never raw readings).
    Gate("q38_city_trends")((s, dir) => {
      import Aggregates._
      val daily = enrichedFullShared(s, dir)
        .groupBy(col("city"), col("reading_date"))
        .agg(Enrich.roundAt(exactAvg(col("temperature_celsius")), 2).as("avg_t"))
      val w = Window.partitionBy("city").orderBy("reading_date")
      val l1 = lag(col("avg_t"), 1).over(w)
      val l2 = lag(col("avg_t"), 2).over(w)
      daily.select(col("city"), col("reading_date"), col("avg_t"),
        (col("avg_t") - l1).as("delta"),
        ((col("avg_t") + coalesce(l1, lit(0.0)) + coalesce(l2, lit(0.0))) /
          (lit(1) + l1.isNotNull.cast("int") + l2.isNotNull.cast("int"))).as("ma3"))
    }) {
      s"""WITH daily AS (
         | SELECT city, reading_date,
         |  floor((CAST(sum(CAST(temperature_celsius AS DECIMAL(28,6))) AS DOUBLE)/count(temperature_celsius))*100.0+0.5)/100.0 AS avg_t
         | FROM ($enrichedFullSql) GROUP BY city, reading_date)
         |SELECT city, reading_date, avg_t,
         | avg_t - lag(avg_t, 1) OVER w AS delta,
         | (avg_t + coalesce(lag(avg_t, 1) OVER w, 0.0) + coalesce(lag(avg_t, 2) OVER w, 0.0))
         |   / (1 + CAST(lag(avg_t, 1) OVER w IS NOT NULL AS INTEGER)
         |        + CAST(lag(avg_t, 2) OVER w IS NOT NULL AS INTEGER)) AS ma3
         |FROM daily WINDOW w AS (PARTITION BY city ORDER BY reading_date ASC)""".stripMargin
    }
  )

  /** DuckDB twin of syntheticWeather (identical association order). */
  private lazy val synthSql =
    """SELECT event_id, ts,
      | CASE WHEN user_id%5=0 THEN 'Mumbai'
      |      WHEN user_id%5=1 THEN 'Delhi'
      |      WHEN user_id%5=2 THEN 'Bangalore'
      |      WHEN user_id%5=3 THEN 'Chennai'
      |      ELSE 'Kolkata' END AS city,
      | value/10.0-5.0 AS temperature_celsius,
      | value%100.0 AS humidity_percent,
      | value/5.0+940.0 AS pressure_hpa,
      | value/5.0 AS wind_speed_kmh,
      | value/8.0 AS precipitation_mm,
      | value/49.0 AS visibility_km,
      | CAST(floor(value/40.0) AS INTEGER) AS uv_index
      |FROM events""".stripMargin

  /** DuckDB twin of the full enrichment chain (layered so tf/simple/hi
    * subexpressions are shared exactly like the Spark Column tree).
    * `extra` prepends pass-through columns (city/ts for the analytics layer). */
  private def enrichedSqlWith(extra: String): String = {
    val full = "-42.379+2.04901523*tf+10.14333127*humidity_percent" +
      "-0.22475541*tf*humidity_percent-0.00683783*tf*tf" +
      "-0.05481717*humidity_percent*humidity_percent" +
      "+0.00122874*tf*tf*humidity_percent" +
      "+0.00085282*tf*humidity_percent*humidity_percent" +
      "-0.00000199*tf*tf*humidity_percent*humidity_percent"
    s"""SELECT ${extra}event_id, temperature_celsius, humidity_percent, pressure_hpa,
       | wind_speed_kmh, precipitation_mm, visibility_km, uv_index,
       | floor((temperature_celsius*9.0/5.0+32.0)*10.0+0.5)/10.0 AS temperature_fahrenheit,
       | floor((temperature_celsius+273.15)*10.0+0.5)/10.0 AS temperature_kelvin,
       | heat_index_celsius,
       | CASE WHEN heat_index_celsius<27.0 THEN 'Comfortable'
       |      WHEN heat_index_celsius<32.0 THEN 'Caution'
       |      WHEN heat_index_celsius<41.0 THEN 'Extreme Caution'
       |      WHEN heat_index_celsius<54.0 THEN 'Danger'
       |      ELSE 'Extreme Danger' END AS comfort_level,
       | CASE WHEN precipitation_mm>50.0 THEN 'Extreme'
       |      WHEN precipitation_mm>25.0 THEN 'Severe'
       |      WHEN wind_speed_kmh>60.0 THEN 'Severe'
       |      WHEN visibility_km<1.0 THEN 'Severe'
       |      WHEN precipitation_mm>10.0 OR wind_speed_kmh>40.0 OR visibility_km<3.0 THEN 'Moderate'
       |      WHEN uv_index>10.0 THEN 'Moderate'
       |      ELSE 'Normal' END AS weather_severity,
       | CASE WHEN heat_index_celsius>54.0 OR precipitation_mm>50.0 OR wind_speed_kmh>80.0 THEN 'CRITICAL'
       |      WHEN heat_index_celsius>41.0 OR precipitation_mm>25.0 OR wind_speed_kmh>60.0 OR visibility_km<2.0 OR uv_index>10.0 THEN 'WARNING'
       |      WHEN heat_index_celsius>32.0 OR precipitation_mm>10.0 OR wind_speed_kmh>40.0 OR uv_index>8.0 THEN 'WATCH'
       |      ELSE 'NORMAL' END AS alert_level,
       | CAST(hour(ts) AS INTEGER) AS hour_of_day,
       | CAST(dayofweek(ts)+1 AS INTEGER) AS day_of_week,
       | (dayofweek(ts)+1) IN (1,7) AS is_weekend,
       | CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'Morning'
       |      WHEN hour(ts) BETWEEN 12 AND 17 THEN 'Afternoon'
       |      WHEN hour(ts) BETWEEN 18 AND 21 THEN 'Evening'
       |      ELSE 'Night' END AS time_of_day,
       | CASE WHEN month(ts) IN (12,1,2) THEN 'Winter'
       |      WHEN month(ts) IN (3,4,5) THEN 'Spring'
       |      WHEN month(ts) IN (6,7,8) THEN 'Summer'
       |      ELSE 'Autumn' END AS season,
       | CAST(ts AS DATE) AS reading_date,
       | temperature_celsius BETWEEN -50 AND 60 AS is_valid_temperature,
       | humidity_percent BETWEEN 0 AND 100 AS is_valid_humidity,
       | pressure_hpa BETWEEN 950 AND 1050 AS is_valid_pressure,
       | CAST(CAST(temperature_celsius BETWEEN -50 AND 60 AS INTEGER)
       |    + CAST(humidity_percent BETWEEN 0 AND 100 AS INTEGER)
       |    + CAST(pressure_hpa BETWEEN 950 AND 1050 AS INTEGER) AS DOUBLE)/3.0*100.0 AS data_quality_score
       |FROM (
       |  SELECT *, CASE WHEN tf<80.0 THEN temperature_celsius
       |                 ELSE floor((CASE WHEN simple>79.0 THEN $full ELSE simple END-32.0)*5.0/9.0*10.0+0.5)/10.0
       |            END AS heat_index_celsius
       |  FROM (
       |    SELECT *, 0.5*(tf+61.0+(tf-68.0)*1.2+humidity_percent*0.094) AS simple
       |    FROM (SELECT *, temperature_celsius*9.0/5.0+32.0 AS tf FROM ($synthSql))
       |  )
       |)""".stripMargin
  }

  private lazy val enrichedSql = enrichedSqlWith("")
  private lazy val enrichedFullSql = enrichedSqlWith("city, ts, ")
}

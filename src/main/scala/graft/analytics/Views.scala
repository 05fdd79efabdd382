package graft.analytics

import graft.functions.Enrich
import graft.operators.Aggregates
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The reference's analytic views (sql/create_tables.sql:169-218):
 *  - recent_weather_alerts: alert subset, newest first (P4 + O1)
 *  - current_weather_status: latest reading per city (J1/W2) — implemented
 *    as a single-shuffle window top-1, not the literal agg+self-join (two
 *    shuffles of the full table; SURVEY §2.4 J1 discussion)
 *  - alert distribution with share-of-total (A6/W1)
 */
object Views {

  def recentAlerts(enriched: DataFrame, tsCol: String = "ts"): DataFrame =
    enriched
      .filter(Enrich.isAlert(col("alert_level")))
      .orderBy(col(tsCol).desc)

  def currentStatus(enriched: DataFrame, cityCol: String = "city", tsCol: String = "ts",
                    tieBreak: String = "station_id"): DataFrame =
    Aggregates.latestPerGroup(enriched, Seq(cityCol), tsCol, tieBreak)
}

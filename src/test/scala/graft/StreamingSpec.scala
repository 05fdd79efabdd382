package graft

import graft.sources.JsonEnvelope
import graft.streaming.EnrichStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** End-to-end EP1: envelope file-stream → enrichment → dual parquet sinks. */
class StreamingSpec extends SparkSpec {

  private def reading(station: String, tempC: Double, precip: Double): String =
    s"""{"station_id":"$station","city":"Mumbai","country":"India","latitude":19.0,"longitude":72.8,
       |"timestamp":"2026-08-12T14:30:00","temperature_celsius":$tempC,"humidity_percent":70.0,
       |"pressure_hpa":1005.0,"wind_speed_kmh":10.0,"wind_direction":"SW","precipitation_mm":$precip,
       |"visibility_km":8.0,"uv_index":5,"weather_condition":"Cloudy","heat_index_celsius":${tempC + 5}}"""
      .stripMargin.replaceAll("\n", "")

  test("dual-sink streaming job writes processed + alerts, event-time partitioned") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    // one benign reading, one WARNING-level (precip 30 > 25)
    Files.writeString(java.nio.file.Paths.get(raw, "batch_1.json"),
      s"""{"readings": [${reading("WS001", 25.0, 0.0)}, ${reading("WS002", 30.0, 30.0)}]}""")

    val q = EnrichStream.start(
      JsonEnvelope.readStream(spark, raw),
      s"$root/processed", s"$root/alerts", s"$root/ckpt",
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val processed = spark.read.parquet(s"$root/processed")
    assert(processed.count() == 2)
    // enrichment columns present with the right values
    val ws2 = processed.where(col("station_id") === "WS002").head()
    assert(ws2.getAs[String]("alert_level") == "WARNING")
    assert(ws2.getAs[String]("weather_severity") == "Severe")
    assert(ws2.getAs[Int]("hour_of_day") == 14)
    // event-time partition columns derived (reference defect fixed)
    assert(processed.columns.contains("year"))
    val alerts = spark.read.parquet(s"$root/alerts")
    assert(alerts.count() == 1)
    assert(alerts.head.getAs[String]("station_id") == "WS002")

    // restart on the same checkpoint: no reprocessing (exactly-once)
    val q2 = EnrichStream.start(
      JsonEnvelope.readStream(spark, raw),
      s"$root/processed", s"$root/alerts", s"$root/ckpt",
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(spark.read.parquet(s"$root/processed").count() == 2)
  }

  /** A reading whose every enrichment input is stated, so each family's
    * source column is distinguishable from its neighbours. */
  private def crafted(station: String, ts: String, tempC: Double, humidity: Double,
                      pressure: Double, vis: Double, uv: Int, heatC: Double): String =
    s"""{"station_id":"$station","city":"Pune","country":"India","latitude":18.5,"longitude":73.9,
       |"timestamp":"$ts","temperature_celsius":$tempC,"humidity_percent":$humidity,
       |"pressure_hpa":$pressure,"wind_speed_kmh":10.0,"wind_direction":"N","precipitation_mm":0.0,
       |"visibility_km":$vis,"uv_index":$uv,"weather_condition":"Clear","heat_index_celsius":$heatC}"""
      .stripMargin.replaceAll("\n", "")

  test("the processed sink is the batch enrichment chain, family by family") {
    val root = Files.createTempDirectory("graft-stream-chain").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    // HEAT: heat index 45 against temperature 20 (comfort, alert and the
    //   conversions must read different columns); pressure out of range.
    // VIS: visibility 0.5 against uv 2 (severity and alert must not swap
    //   them); humidity out of range.
    // UV: uv 11 against visibility 8; temperature 65 out of range while
    //   the stated heat index stays comfortable.
    // CALM: every input benign — the one reading the alerts sink skips.
    Files.writeString(java.nio.file.Paths.get(raw, "batch_1.json"),
      Seq(crafted("HEAT", "2026-08-15T19:30:00", 20.0, 60.0, 940.0, 8.0, 5, 45.0),
        crafted("VIS", "2026-12-14T07:10:00", 10.0, 120.0, 1005.0, 0.5, 2, 10.0),
        crafted("UV", "2026-04-01T13:00:00", 65.0, 50.0, 1005.0, 8.0, 11, 25.0),
        crafted("CALM", "2026-04-01T23:00:00", 25.0, 50.0, 1005.0, 8.0, 5, 25.0))
        .mkString("""{"readings": [""", ",", "]}"))

    val q = EnrichStream.start(JsonEnvelope.readStream(spark, raw),
      s"$root/processed", s"$root/alerts", s"$root/ckpt", trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)

    val batch = EnrichStream.enrich(JsonEnvelope.readBatch(spark, raw))
    assert(batch.columns.contains("reading_date"))
    val cols = batch.columns.toSeq.map(col)
    val processed = spark.read.parquet(s"$root/processed").select(cols: _*)
    assert(processed.collect().toSet == batch.collect().toSet)
    val alerts = spark.read.parquet(s"$root/alerts").select(cols: _*)
    assert(alerts.collect().toSet == EnrichStream.alertsOnly(batch).collect().toSet)
    assert(alerts.select("station_id").collect().map(_.getString(0)).toSet == Set("HEAT", "VIS", "UV"))

    val byStation = processed.collect().map(r => r.getAs[String]("station_id") -> r).toMap
    def family(station: String, names: String*): Seq[Any] =
      names.map(n => byStation(station).getAs[Any](n))
    val conversions = Seq("temperature_fahrenheit", "temperature_kelvin")
    assert(family("HEAT", conversions: _*) == Seq(68.0, 293.2))
    assert(family("UV", conversions: _*) == Seq(149.0, 338.2))
    val classes = Seq("comfort_level", "weather_severity", "alert_level")
    assert(family("HEAT", classes: _*) == Seq("Danger", "Normal", "WARNING"))
    assert(family("VIS", classes: _*) == Seq("Comfortable", "Severe", "WARNING"))
    assert(family("UV", classes: _*) == Seq("Comfortable", "Moderate", "WARNING"))
    assert(family("CALM", classes: _*) == Seq("Comfortable", "Normal", "NORMAL"))
    val time = Seq("hour_of_day", "day_of_week", "is_weekend", "time_of_day", "season")
    assert(family("HEAT", time: _*) == Seq(19, 7, true, "Evening", "Summer"))
    assert(family("VIS", time: _*) == Seq(7, 2, false, "Morning", "Winter"))
    assert(family("UV", time: _*) == Seq(13, 4, false, "Afternoon", "Spring"))
    assert(byStation("HEAT").getAs[java.sql.Date]("reading_date").toString == "2026-08-15")
    val validity = Seq("is_valid_temperature", "is_valid_humidity", "is_valid_pressure")
    assert(family("HEAT", validity: _*) == Seq(true, true, false))
    assert(family("VIS", validity: _*) == Seq(true, false, true))
    assert(family("UV", validity: _*) == Seq(false, true, true))
    assert(family("CALM", validity: _*) == Seq(true, true, true))
    assert(Seq("HEAT", "VIS", "UV", "CALM").map(byStation(_).getAs[Double]("data_quality_score")) ==
      Seq(2.0, 2.0, 2.0, 3.0).map(_ / 3.0 * 100.0))
  }

  test("a micro-batch of more than 32 files is read without a listing job") {
    val root = Files.createTempDirectory("graft-stream-wide").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    // 48 envelope files, past Spark's parallel listing threshold of 32
    // root paths; each holds one benign and one WARNING reading (precip 30)
    val files = 48
    (0 until files).foreach { i =>
      Files.writeString(java.nio.file.Paths.get(raw, f"batch_$i%03d.json"),
        s"""{"readings": [${reading(s"C$i", 25.0, 0.0)}, ${reading(s"W$i", 30.0, 30.0)}]}""")
    }
    val listingJobs = listingJobsDuring {
      val q = EnrichStream.start(JsonEnvelope.readStream(spark, raw),
        s"$root/processed", s"$root/alerts", s"$root/ckpt", trigger = Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "the drain did not finish")
      // one micro-batch read every file (an input row is one envelope)
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(files.toLong))
    }
    assert(listingJobs == 0)

    val batch = EnrichStream.enrich(JsonEnvelope.readBatch(spark, raw))
    val cols = batch.columns.toSeq.map(col)
    val processed = spark.read.parquet(s"$root/processed").select(cols: _*)
    assert(processed.count() == 2L * files)
    assert(processed.collect().toSet == batch.collect().toSet)
    val alerts = spark.read.parquet(s"$root/alerts").select(cols: _*).collect()
    assert(alerts.length == files)
    assert(alerts.toSet == EnrichStream.alertsOnly(batch).collect().toSet)
  }
}

package graft

import graft.sources.{JsonEnvelope, PartitionedStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  private val envelope =
    """{"readings": [
      |{"station_id":"WS001","city":"Mumbai","country":"India","latitude":19.07,"longitude":72.87,
      | "timestamp":"2026-08-12T10:30:00","temperature_celsius":32.5,"humidity_percent":78.0,
      | "pressure_hpa":1005.2,"wind_speed_kmh":12.3,"wind_direction":"SW","precipitation_mm":0.0,
      | "visibility_km":8.5,"uv_index":9,"weather_condition":"Partly Cloudy","heat_index_celsius":41.2},
      |{"station_id":"WS002","city":"Delhi","country":"India","latitude":28.7,"longitude":77.1,
      | "timestamp":"2026-08-12T10:30:00","temperature_celsius":38.1,"humidity_percent":45.0,
      | "pressure_hpa":998.7,"wind_speed_kmh":22.1,"wind_direction":"NW","precipitation_mm":12.5,
      | "visibility_km":3.2,"uv_index":11,"weather_condition":"Haze","heat_index_celsius":43.0}
      |]}""".stripMargin.replaceAll("\n", "")

  test("JsonEnvelope flattens batch envelopes to one row per reading") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "batch_1.json"), envelope)
    val df = JsonEnvelope.readBatch(spark, dir)
    assert(df.count() == 2)
    assert(df.columns.toSeq == JsonEnvelope.readingSchema.map(_.name).toSeq)
    assert(df.where(col("city") === "Mumbai").head.getAs[Double]("temperature_celsius") == 32.5)
  }

  test("readTyped gives a compile-time-checked Dataset[WeatherReading]") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "batch_1.json"), envelope)
    val ds = JsonEnvelope.readTyped(spark, dir)
    val mumbai = ds.filter(_.city.contains("Mumbai")).collect()
    assert(mumbai.length == 1)
    assert(mumbai.head.temperature_celsius.contains(32.5) && mumbai.head.uv_index.contains(9))
  }

  test("parsePayload handles a payload column carrying envelopes") {
    val df = Seq(envelope).toDF("data")
    val parsed = JsonEnvelope.parsePayload(df, "data")
    assert(parsed.count() == 2)
    assert(parsed.select("station_id").collect().map(_.getString(0)).toSet == Set("WS001", "WS002"))
  }

  test("appendIfAbsent is idempotent (ON CONFLICT DO NOTHING semantics)") {
    val table = tmp() + "/readings"
    val batch = Seq(
      ("WS001", "2026-08-12T10:00:00", 30.0),
      ("WS002", "2026-08-12T10:00:00", 31.0))
      .toDF("station_id", "timestamp", "temp")
      .withColumn("ts", to_timestamp(col("timestamp")))
    val keys = Seq("station_id", "timestamp")

    val n1 = PartitionedStore.appendIfAbsent(spark, batch, table, keys, Seq.empty)
    assert(n1 == 2)
    // re-run: nothing new
    val n2 = PartitionedStore.appendIfAbsent(spark, batch, table, keys, Seq.empty)
    assert(n2 == 0)
    // overlapping batch: only the new key lands
    val batch2 = Seq(
      ("WS001", "2026-08-12T10:00:00", 99.0), // dup key, different payload -> ignored
      ("WS003", "2026-08-12T10:00:00", 28.0))
      .toDF("station_id", "timestamp", "temp")
      .withColumn("ts", to_timestamp(col("timestamp")))
    val n3 = PartitionedStore.appendIfAbsent(spark, batch2, table, keys, Seq.empty)
    assert(n3 == 1)
    val stored = spark.read.parquet(table)
    assert(stored.count() == 3)
    assert(stored.where(col("station_id") === "WS001").head.getAs[Double]("temp") == 30.0)
  }

  test("appendIfAbsent adds no data file for a zero-row append to an unpartitioned table") {
    val table = tmp() + "/flat"
    val batch = Seq(("WS001", 30.0), ("WS002", 31.0)).toDF("station_id", "temp")
    val appended = (1 to 3).map(_ =>
      PartitionedStore.appendIfAbsent(spark, batch, table, Seq("station_id"), Seq.empty))
    assert(appended == Seq(2L, 0L, 0L))
    val dataFiles = new java.io.File(table).listFiles
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(dataFiles == 1)
    assert(spark.read.parquet(table).count() == 2)
  }

  test("appendIfAbsent resolves scheme-qualified URIs through the Hadoop FileSystem") {
    // a java.io.File existence check silently reports "absent" for any
    // URI-form path (file://, s3://, hdfs://) — the anti-join would be
    // skipped and re-runs would append duplicates; this pins the Hadoop
    // FileSystem resolution with an explicit scheme
    val table = "file://" + tmp() + "/uri_readings"
    val batch = Seq(("WS001", "2026-08-12T10:00:00", 30.0))
      .toDF("station_id", "timestamp", "temp")
    val keys = Seq("station_id", "timestamp")
    assert(PartitionedStore.appendIfAbsent(spark, batch, table, keys, Seq.empty) == 1)
    assert(PartitionedStore.appendIfAbsent(spark, batch, table, keys, Seq.empty) == 0)
    assert(spark.read.parquet(table).count() == 1)
  }

  test("overwriteGroups replaces only the touched partitions (upsert semantics)") {
    val table = tmp() + "/summary"
    val day1 = Seq(("2026-08-11", "Mumbai", 30.0), ("2026-08-11", "Delhi", 35.0),
      ("2026-08-12", "Mumbai", 31.0)).toDF("summary_date", "city", "avg_temp")
    PartitionedStore.overwriteGroups(day1, table, Seq("summary_date"))
    // recompute day 2 with corrected numbers; day 1 must survive
    val day2 = Seq(("2026-08-12", "Mumbai", 99.0), ("2026-08-12", "Delhi", 98.0))
      .toDF("summary_date", "city", "avg_temp")
    PartitionedStore.overwriteGroups(day2, table, Seq("summary_date"))
    // partition values come back type-inferred (DateType) — stringify for compare
    val got = spark.read.parquet(table)
      .collect().map(r => (String.valueOf(r.getAs[Any]("summary_date")), r.getAs[String]("city")) -> r.getAs[Double]("avg_temp")).toMap
    assert(got.size == 4)
    assert(got(("2026-08-11", "Mumbai")) == 30.0)
    assert(got(("2026-08-12", "Mumbai")) == 99.0)
  }

  test("withTimePartitions derives event-time partition columns") {
    val df = Seq("2026-08-12T10:30:00").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val p = PartitionedStore.withTimePartitions(df, "ts").head
    assert((p.getAs[Int]("year"), p.getAs[Int]("month"), p.getAs[Int]("day"), p.getAs[Int]("hour"))
      == ((2026, 8, 12, 10)))
  }

  test("appendChecked quarantines CHECK violations with the failed constraint named") {
    val root = Files.createTempDirectory("graft-checked").toString
    // the reference warehouse's three CHECK constraints (create_tables.sql:70-72)
    val checks = Seq(
      "valid_temperature" -> col("temperature_celsius").between(-50, 60),
      "valid_humidity" -> col("humidity_percent").between(0, 100),
      "valid_uv" -> col("uv_index").between(0, 15))
    val rows = Seq(
      ("s1", 20.0, 50.0, 5, 2026),   // valid
      ("s2", 99.0, 50.0, 5, 2026),   // temperature violation
      ("s3", 20.0, 150.0, 5, 2026),  // humidity violation
      ("s4", 20.0, 50.0, 99, 2026),  // uv violation (also would fail nothing else)
      ("s5", -60.0, 150.0, 5, 2026)) // fails temp AND humidity -> FIRST check named
      .toDF("station_id", "temperature_celsius", "humidity_percent", "uv_index", "year")
    val (appended, quarantined) = PartitionedStore.appendChecked(
      spark, rows, s"$root/store", s"$root/quarantine", checks,
      keys = Seq("station_id"), partitionCols = Seq("year"))
    assert(appended == 1 && quarantined == 4)
    val q = spark.read.parquet(s"$root/quarantine")
      .collect().map(r => r.getAs[String]("station_id") -> r.getAs[String]("violated_constraint")).toMap
    assert(q == Map("s2" -> "valid_temperature", "s3" -> "valid_humidity",
      "s4" -> "valid_uv", "s5" -> "valid_temperature"))
    assert(spark.read.parquet(s"$root/store").count() == 1)
    // re-run against the SAME dirs: idempotent on BOTH sides (a retried
    // batch duplicates neither stored rows nor quarantine rows)
    val (again, requarantined) = PartitionedStore.appendChecked(
      spark, rows, s"$root/store", s"$root/quarantine", checks,
      keys = Seq("station_id"), partitionCols = Seq("year"))
    assert(again == 0 && requarantined == 0)
    assert(spark.read.parquet(s"$root/quarantine").count() == 4)
  }
}

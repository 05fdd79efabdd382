package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Batch-envelope JSON ingestion (reference: batches of readings wrapped in
 * `{"readings": [...]}` docs, kinesis_to_s3.py:234-246; parsed with an
 * explicit StructType at glue_weather_etl.py:59-80,146-156 — schema is
 * always declared, never inferred: inference is a full extra pass over
 * 100 TB and a correctness hazard).
 *
 * Shape: read(schema) → explode(readings) → select("reading.*"). The explode
 * is Spark's built-in Generator — narrow, pipelined, no shuffle.
 */
object JsonEnvelope {

  /** The reference reading schema (glue_weather_etl.py:59-80). */
  val readingSchema: StructType = StructType(Seq(
    StructField("station_id", StringType),
    StructField("city", StringType),
    StructField("country", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("timestamp", StringType),
    StructField("temperature_celsius", DoubleType),
    StructField("humidity_percent", DoubleType),
    StructField("pressure_hpa", DoubleType),
    StructField("wind_speed_kmh", DoubleType),
    StructField("wind_direction", StringType),
    StructField("precipitation_mm", DoubleType),
    StructField("visibility_km", DoubleType),
    StructField("uv_index", IntegerType),
    StructField("weather_condition", StringType),
    StructField("heat_index_celsius", DoubleType)
  ))

  def envelopeSchema(reading: StructType = readingSchema): StructType =
    StructType(Seq(StructField("readings", ArrayType(reading))))

  /** Batch read of envelope JSON files → one flat row per reading.
    * `multiLine` for pretty-printed one-document-per-file envelopes (the
    * reference's raw archiver writes indent=2); default is JSON-lines.
    * `path` may be the archive root: every file beneath it is read, its
    * `year=/month=/day=/hour=` directories taken as plain directories, not
    * partition columns. One root is listed serially while planning; a glob
    * over its hour directories lists each as a root, and past Spark's
    * parallel listing threshold (32 paths) that costs a listing job per
    * read. */
  def readBatch(spark: SparkSession, path: String, reading: StructType = readingSchema,
                multiLine: Boolean = false): DataFrame =
    flatten(spark.read.schema(envelopeSchema(reading))
      .option("recursiveFileLookup", "true")
      .option("multiLine", multiLine.toString).json(path))

  /** Typed ingestion boundary (SURVEY §1.4): same read, compile-time schema. */
  def readTyped(spark: SparkSession, path: String): Dataset[graft.model.WeatherReading] = {
    import spark.implicits._
    readBatch(spark, path).as[graft.model.WeatherReading]
  }

  /** Streaming read of the same layout (file-stream stand-in for the
    * reference's Kinesis source; identical downstream lineage). */
  def readStream(spark: SparkSession, path: String, reading: StructType = readingSchema): DataFrame =
    flatten(spark.readStream.schema(envelopeSchema(reading)).json(path))

  private def flatten(envelopes: DataFrame): DataFrame =
    envelopes.select(explode(col("readings")).as("reading")).select("reading.*")

  /** Parse a binary/string payload column carrying one envelope per record
    * (the Kinesis `data` column shape, glue_weather_etl.py:146-149). */
  def parsePayload(df: DataFrame, payloadCol: String, reading: StructType = readingSchema): DataFrame =
    df.select(from_json(col(payloadCol).cast("string"), envelopeSchema(reading)).as("env"))
      .select(explode(col("env.readings")).as("reading"))
      .select("reading.*")
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * CSV batch source/sink (S9/S10) and the load-time cleanse step (P18,
 * load_to_postgres.py:229-266): numeric coercion with invalid→null (the
 * pandas `to_numeric(errors='coerce')` twin is Spark's cast), int columns
 * null→0, and dropping rows missing critical fields.
 */
object Tabular {

  /** Header CSV scan with an explicit schema — never inferred (inference is
    * an extra full pass and a correctness hazard; SURVEY §4). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(path)

  /**
   * P18: coerce columns to target numeric types (invalid strings become
   * null, exactly `errors='coerce'`), default int nulls to 0, drop rows
   * with null critical fields.
   */
  def cleanse(df: DataFrame,
              doubleCols: Seq[String],
              intCols: Seq[String],
              criticalCols: Seq[String]): DataFrame = {
    // try_cast, not cast: Spark 4 runs ANSI mode, where a plain cast THROWS
    // on malformed input; try_cast returns null = pandas errors='coerce'
    val coercedDoubles = doubleCols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).try_cast("double")))
    val coercedInts = intCols.foldLeft(coercedDoubles)((d, c) =>
      d.withColumn(c, coalesce(col(c).try_cast("int"), lit(0))))
    coercedInts.na.drop(criticalCols)
  }
}

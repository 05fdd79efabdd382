package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Warehouse-table maintenance without a mutable store (SURVEY.md §7.4.1):
 * the reference's Postgres `ON CONFLICT DO NOTHING` / `DO UPDATE` become
 * idempotent Spark patterns over partitioned Parquet.
 *
 *  - insert-if-absent  → left-anti join against existing keys, then append
 *  - upsert-by-group   → recompute + dynamic partition overwrite
 *
 * Both are safe under re-runs (the reference's Airflow job retries ×3).
 * Partition layout is Hive-style event-time columns derived from the
 * timestamp — the reference declares partitionBy("year","month","day","hour")
 * but never creates the columns (glue_weather_etl.py:484, a latent defect);
 * here they are always derived.
 */
object PartitionedStore {

  /** Add Hive partition columns derived from an event-time column. */
  def withTimePartitions(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))

  /** Append only rows whose key is not already present (ON CONFLICT DO
    * NOTHING). The existing side is reduced to its key columns before the
    * anti join — reads key columns only (Parquet column pruning), and the
    * join shuffles keys, not payloads. One Spark execution: the appended
    * count is observed on the write itself, not counted by a second run of
    * the anti join and the dedup. So a zero-row append still writes: to a
    * partitioned table it adds no file, to an unpartitioned one it adds one
    * empty Parquet file that carries the schema. */
  def appendIfAbsent(spark: SparkSession, incoming: DataFrame, table: String,
                     keys: Seq[String], partitionCols: Seq[String]): Long = {
    // Resolve through the Hadoop FileSystem of the table's URI — a bare
    // java.io.File check silently reports "absent" for s3://-like paths,
    // which would skip the anti-join and append duplicates.
    val path = new org.apache.hadoop.fs.Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isFirstWrite = !fs.exists(path)
    val fresh =
      if (isFirstWrite) incoming
      else {
        // the key columns' schema, stated: no footer-inference job, and a
        // table whose first append had no rows (a directory without data
        // files) reads as empty instead of failing to infer a schema
        val keySchema = StructType(keys.map(incoming.schema(_)))
        val existingKeys = spark.read.schema(keySchema).parquet(table).select(keys.map(col): _*)
        incoming.join(existingKeys, keys, "left_anti")
      }
    // within-batch dup keys: deterministic winner = smallest payload tuple
    // (a key column as tie-break would be constant per window — the winner
    // would be partitioning luck)
    val payloadCols = incoming.columns.filterNot(keys.contains).toSeq
    val deduped = graft.operators.Dedup.keepFirstBy(fresh, keys,
      if (payloadCols.nonEmpty) payloadCols else Seq(keys.head))
    val appended = Observation()
    deduped.observe(appended, count(lit(1)).as("rows"))
      .write.mode("append").partitionBy(partitionCols: _*).parquet(table)
    appended.get("rows").asInstanceOf[Long]
  }

  /**
   * Write-boundary CHECK-constraint enforcement — the Spark analog of the
   * warehouse's CHECK constraints (reference `sql/create_tables.sql:70-72`
   * rejects a violating row with a per-row error). A distributed append
   * can't abort per-row, so the analog is split-and-quarantine: rows
   * passing every check append via [[appendIfAbsent]]; violations land in
   * `quarantineDir` with the FIRST failed constraint's name attached
   * (`Cleaning.withDropStage` — same first-failure attribution as the
   * corpus funnel, so quarantine counts sum and every rejection is
   * attributable). One scan evaluates all checks; nothing silently drops.
   * BOTH sides write through [[appendIfAbsent]] on the same keys, so a
   * retried batch (the reference's Airflow ×3) duplicates neither stored
   * rows nor quarantine rows.
   *
   * Returns (appendedNew, newlyQuarantined).
   */
  def appendChecked(spark: SparkSession, incoming: DataFrame, table: String,
                    quarantineDir: String, checks: Seq[(String, org.apache.spark.sql.Column)],
                    keys: Seq[String], partitionCols: Seq[String]): (Long, Long) = {
    val staged = graft.operators.Cleaning.withDropStage(incoming, checks)
      .localCheckpoint() // two consumers (valid append + quarantine write)
    val valid = staged.where(col("drop_stage") === "pass")
      .drop("drop_stage_idx", "drop_stage")
    val rejected = staged.where(col("drop_stage") =!= "pass")
      .withColumnRenamed("drop_stage", "violated_constraint")
      .drop("drop_stage_idx")
    val nRejected = appendIfAbsent(spark, rejected, quarantineDir, keys, Seq.empty)
    val nNew = appendIfAbsent(spark, valid, table, keys, partitionCols)
    (nNew, nRejected)
  }

  /** Recompute-and-replace upsert (ON CONFLICT DO UPDATE): dynamic partition
    * overwrite rewrites only the partitions present in `updated` — the
    * summary for one day replaces that day, other days untouched. */
  def overwriteGroups(updated: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    updated.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(table)

  /**
   * Bucketed managed table for co-located joins: two tables bucketed on
   * the same key with the same bucket count join WITHOUT a shuffle — the
   * exchange both sides would pay is prepaid once at write time. The
   * repartition before the write keeps one file per bucket (without it,
   * every task writes a file per bucket it touches — at 1000 tasks × 64
   * buckets that is 64k small files).
   */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String, buckets: Int): Unit =
    df.repartition(buckets, col(bucketCol))
      .write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)
}

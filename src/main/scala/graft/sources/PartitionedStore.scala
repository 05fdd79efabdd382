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

  /** The absent-rows rule of every insert-if-absent store (this one and
    * [[JdbcStore.appendIfAbsent]]): `incoming` rows whose key is not among
    * `existingKeys` (a left-anti join on the keys, so only keys shuffle),
    * and within the batch one row per key — the smallest payload tuple,
    * a deterministic winner (a key column as tie-break would be constant
    * per window, so the winner would be partitioning luck). */
  private[sources] def absentRows(incoming: DataFrame, existingKeys: Option[DataFrame],
                                  keys: Seq[String]): DataFrame = {
    val fresh = existingKeys.fold(incoming)(incoming.join(_, keys, "left_anti"))
    val payloadCols = incoming.columns.filterNot(keys.contains).toSeq
    graft.operators.Dedup.keepFirstBy(fresh, keys,
      if (payloadCols.nonEmpty) payloadCols else Seq(keys.head))
  }

  /** Append only rows whose key is not already present (ON CONFLICT DO
    * NOTHING), by [[absentRows]]. The existing side is read as its key
    * columns only (Parquet column pruning). A zero-row append adds no
    * data file. A partitioned append is one Spark execution: the appended
    * count is observed on the write itself. An unpartitioned write always
    * writes a file from its first task, empty or not, so there the rows
    * are staged and counted first, and written only when there are any. */
  def appendIfAbsent(spark: SparkSession, incoming: DataFrame, table: String,
                     keys: Seq[String], partitionCols: Seq[String]): Long = {
    // Resolve through the Hadoop FileSystem of the table's URI — a bare
    // java.io.File check silently reports "absent" for s3://-like paths,
    // which would skip the anti-join and append duplicates.
    val path = new org.apache.hadoop.fs.Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the key columns' schema, stated: no footer-inference job, and a
    // table whose first append had no rows (a directory without data
    // files) reads as empty instead of failing to infer a schema
    val existingKeys = if (!fs.exists(path)) None else Some(
      spark.read.schema(StructType(keys.map(incoming.schema(_)))).parquet(table)
        .select(keys.map(col): _*))
    val rows = absentRows(incoming, existingKeys, keys)
    if (partitionCols.isEmpty) {
      val staged = rows.localCheckpoint()
      val n = staged.count()
      if (n > 0) staged.write.mode("append").parquet(table) else fs.mkdirs(path)
      n
    } else {
      val appended = Observation()
      rows.observe(appended, count(lit(1)).as("rows"))
        .write.mode("append").partitionBy(partitionCols: _*).parquet(table)
      appended.get("rows").asInstanceOf[Long]
    }
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
}

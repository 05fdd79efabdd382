package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * JDBC warehouse sink with the reference's conflict semantics
 * (airflow/src/load_to_postgres.py:275-382): `ON CONFLICT DO NOTHING`
 * becomes an anti-join append, `ON CONFLICT DO UPDATE` (summary upsert)
 * becomes delete-by-group + append — both idempotent under re-runs.
 *
 * This is the relational twin of PartitionedStore (same interfaces over
 * parquet): use the parquet store for the lake, this for serving tables.
 *
 * Scale shape: the existing-keys read selects ONLY the key columns
 * (Spark's JDBC relation prunes columns into the remote SELECT), the
 * anti-join shuffles keys not payloads, and the write fans out one JDBC
 * batch-insert per partition. `replaceGroups` collects the distinct group
 * values to the driver for the DELETE — bounded by design: groups are
 * replacement partitions (summary dates), not rows. Integration-tested
 * against embedded Derby (JdbcStoreSpec); swap the URL for Postgres in
 * production — no code change.
 */
object JdbcStore {

  def tableExists(url: String, table: String, props: Properties = new Properties): Boolean = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally conn.close()
  }

  /** Append only rows whose key is absent from the remote table (ON
    * CONFLICT DO NOTHING, the [[PartitionedStore.absentRows]] rule);
    * returns the number of rows written.
    *
    * `columnTypes` is the serving-table DDL for first-write table creation
    * (Spark's `createTableColumnTypes` option) — declare key strings as
    * VARCHAR(n): some dialects (Derby) otherwise map StringType to CLOB,
    * which cannot be compared or indexed. */
  def appendIfAbsent(spark: SparkSession, incoming: DataFrame, url: String, table: String,
                     keys: Seq[String], props: Properties = new Properties,
                     columnTypes: String = ""): Long = {
    val existingKeys =
      if (!tableExists(url, table, props)) None
      else Some(spark.read.jdbc(url, table, props).select(keys.map(col): _*))
    val deduped = PartitionedStore.absentRows(incoming, existingKeys, keys)
      .localCheckpoint() // one computation serves both the count and the write
    val n = deduped.count()
    if (n > 0) {
      val w = deduped.write.mode("append")
      (if (columnTypes.nonEmpty) w.option("createTableColumnTypes", columnTypes) else w)
        .jdbc(url, table, props)
    }
    n
  }

  /** Replace whole groups (ON CONFLICT DO UPDATE at partition granularity):
    * delete the groups present in `updated`, then append — the JDBC twin of
    * PartitionedStore.overwriteGroups' dynamic partition overwrite.
    *
    * The distinct group keys cross the driver to become DELETE parameters —
    * bounded by design (groups are replacement partitions like summary
    * dates, not rows), and `maxGroups` makes the bound EXPLICIT: the count
    * is checked on the executors first, and exceeding it fails fast with
    * the actual cardinality instead of silently hauling a mis-specified
    * group column (e.g. a row key) through driver memory. Keys then stream
    * via toLocalIterator in executeBatch chunks — driver footprint is one
    * partition, not the full key set.
    *
    * Atomicity: ALL deletes run in ONE transaction (autocommit off, single
    * commit after the last batch) — a failure mid-delete rolls back and
    * leaves the table untouched. The delete transaction and the Spark
    * append are still separate operations on separate connections: a crash
    * BETWEEN them leaves the groups deleted but not yet rewritten. That
    * window is inherent to delete+append over plain JDBC (Spark's writer
    * manages its own connections); re-running the call converges because
    * the operation is idempotent — callers needing stronger guarantees
    * should write to a staging table and swap server-side. */
  def replaceGroups(spark: SparkSession, updated: DataFrame, url: String, table: String,
                    groupCol: String, props: Properties = new Properties,
                    columnTypes: String = "", maxGroups: Long = 100000L,
                    deleteBatchSize: Int = 1000): Unit = {
    val toWrite = updated.localCheckpoint() // delete must not race the write's lineage
    if (tableExists(url, table, props)) {
      val groups = toWrite.select(groupCol).distinct().localCheckpoint()
      val n = groups.count()
      require(n <= maxGroups,
        s"replaceGroups: $n distinct '$groupCol' values exceeds maxGroups=$maxGroups — " +
          "group-wise replace is for partition-granularity keys (dates, regions); " +
          "for row-granularity upserts use appendIfAbsent or raise maxGroups explicitly")
      val conn = DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false) // one transaction across every delete batch
        try {
          val ps = conn.prepareStatement(s"""DELETE FROM $table WHERE "$groupCol" = ?""")
          var pending = 0
          groups.toLocalIterator().forEachRemaining { r =>
            ps.setObject(1, r.get(0)); ps.addBatch(); pending += 1
            if (pending >= deleteBatchSize) { ps.executeBatch(); pending = 0 }
          }
          if (pending > 0) ps.executeBatch()
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        }
      } finally conn.close()
    }
    val w = toWrite.write.mode("append")
    (if (columnTypes.nonEmpty) w.option("createTableColumnTypes", columnTypes) else w)
      .jdbc(url, table, props)
  }
}

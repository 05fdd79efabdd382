package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate of the driver contract: the engine frame and the DuckDB SQL
  * that must hash-match it on the same parquet tables, under one name.
  * The oracle is by-name, so it is built only when [[oracleSql]] is read. */
final class Gate private (val name: String,
    val engine: (SparkSession, String) => DataFrame, oracle: => String) {
  def oracleSql: String = oracle
}

object Gate {
  def apply(name: String)(engine: (SparkSession, String) => DataFrame)(
      oracle: => String): Gate = new Gate(name, engine, oracle)
}

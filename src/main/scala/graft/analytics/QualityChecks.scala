package graft.analytics

import graft.functions.Enrich
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-quality checks (reference README's monitoring SQL + the DB CHECK
 * constraints, SURVEY §5): null criticals, range violations, duplicate
 * keys, freshness. One pass — every check is a conditional aggregate over
 * the same scan, returning one row per check (name, violations, total,
 * pass) so a pipeline can assert or alert on the result set.
 */
object QualityChecks {

  final case class Check(name: String, violation: org.apache.spark.sql.Column)

  /** The reference's checks for an enriched readings table. */
  def weatherChecks(df: DataFrame): Seq[Check] =
    Seq(Check("null_station_id", col("station_id").isNull),
      Check("null_timestamp", col("timestamp").isNull)) ++
      Enrich.ValidRanges.map(r => Check(s"${r.name}_out_of_range", !r.holds)) :+
      Check("uv_out_of_range", !col("uv_index").between(0, 15))

  /** Run checks in ONE aggregation pass; returns (check, violations, total, pass). */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = checks.map(c =>
      sum(when(c.violation, 1L).otherwise(0L)).as(c.name)) :+ count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single row to one row per check — stack is a narrow
    // Generator over one row, no shuffle
    val stackArgs = checks.map(c => s"'${c.name}', ${c.name}").mkString(", ")
    row.select(
      expr(s"stack(${checks.size}, $stackArgs) AS (check_name, violations)"),
      col("__total").as("total"))
      .withColumn("pass", col("violations") === 0L)
  }

  /**
   * Numeric column profile — the census a warehouse job runs before
   * trusting a table (pandas `describe` / Deequ profile shape): per
   * column, row count, nulls, exact distinct, min/max and the
   * deterministic DECIMAL mean. Two aggregations over one scan: the
   * scalar stats in a single narrow pass, and the distincts over the
   * LONG (column, value) form — NOT via multiple count(DISTINCT), whose
   * Expand rewrite multiplies the stream by the column count and drags
   * every other aggregate through the blowup (measured 4× the split
   * plan's cost). The long-form distinct combines map-side (one row per
   * distinct value per partition), so the shuffle is value-cardinality.
   * At 100 TB swap `Aggregates.approxDistinct` in per column to keep
   * sketch-bounded state. Long output: one row per column, so checks and
   * drift alerts diff profile tables directly.
   */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    import graft.operators.Aggregates.exactAvg
    // resolve columns by backquoted name and alias internals by INDEX:
    // caller-supplied names (spaces, dots, quotes — all legal) must never
    // be string-interpolated into a parsed expression
    def c(name: String): Column = col("`" + name.replace("`", "``") + "`")
    // NOTE (round 12, measured): folding n_distinct into this aggregation
    // as multi-column countDistinct looks like "one scan instead of two"
    // but plans as an Expand — every row multiplied (#distinct-cols + 1)×
    // before ANY partial aggregation — and benched 2.7× SLOWER at sf0.1
    // (q71 1.27 → 3.46 s at 32c, 1.2 → 4.1 s at 8c). The two-pass shape
    // below (moments in one scan; distincts via explode + partial-agg +
    // join) keeps map-side reduction on both paths and stays.
    val aggs = cols.zipWithIndex.flatMap { case (name, i) =>
      Seq(count(c(name)).as(s"__n_$i"),
        sum(when(c(name).isNull, 1L).otherwise(0L)).as(s"__nn_$i"),
        min(c(name)).cast("double").as(s"__mn_$i"),
        max(c(name)).cast("double").as(s"__mx_$i"),
        exactAvg(c(name).cast("double")).as(s"__avg_$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // one struct per column exploded back out of the single row — the
    // same narrow one-row Generator shape as stack()
    val stats = row.select(explode(array(cols.zipWithIndex.map { case (name, i) =>
        struct(lit(name).as("column_name"), col(s"__n_$i").as("n_values"),
          col(s"__nn_$i").as("n_nulls"), col(s"__mn_$i").as("min_value"),
          col(s"__mx_$i").as("max_value"), col(s"__avg_$i").as("avg_value"))
      }.toIndexedSeq: _*)).as("s"))
      .select("s.*")
    // exact distincts over the long form (doubles are exact for these
    // numerics below 2^53, so the cast never merges distinct values)
    val distincts = df
      .select(explode(array(cols.map(name =>
        struct(lit(name).as("column_name"), c(name).cast("double").as("__v"))).toIndexedSeq: _*)).as("s"))
      .select("s.*")
      .where(col("__v").isNotNull)
      .groupBy("column_name", "__v").agg(lit(1))
      .groupBy("column_name").agg(count(lit(1)).as("n_distinct"))
    stats.join(distincts, Seq("column_name"), "left")
      .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
      .select("column_name", "n_values", "n_nulls", "n_distinct",
        "min_value", "max_value", "avg_value")
  }
}

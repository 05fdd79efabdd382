package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution

/** Order-independent digest of a result: row count plus the exact sum of
  * one 64-bit hash per row. Two results with the same multiset of rows get
  * the same digest whatever their order or partitioning. */
final case class Digest(rows: Long, sum: BigInt) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = s"$rows:$sum"
}

object Digest {
  val Empty: Digest = Digest(0L, BigInt(0))

  /** Fold row hashes into a digest; addition commutes, so order is lost. */
  def of(hashes: Iterator[Long]): Digest = {
    var n = 0L
    var s = BigInt(0)
    hashes.foreach { h => n += 1; s += h }
    Digest(n, s)
  }

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":", 2)
    Digest(r.toLong, BigInt(h))
  }

  /**
   * Execute `df` once and digest every row it returns. The rows are hashed
   * in their binary (UnsafeRow) form inside the same tasks that produce
   * them, so the action runs the query's own physical plan, sorts and all,
   * plus one hash per row. `label` names the SQL execution, which is what a
   * QueryExecutionListener sees as the function name.
   */
  def execute(df: DataFrame, label: String): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        Iterator.single(of(rows.map { r =>
          val u = proj(r)
          XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }))
      }.collect().foldLeft(Empty)(_ + _)
    }
  }
}

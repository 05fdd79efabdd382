package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The scaling probe's deterministic synthetic corpora, generated entirely
 * with Column expressions (no driver-side data, no RNG — reproducible and
 * distributed), and the write-once rule that stores them as parquet
 * artifacts. graft.DiskScale and graft.StagedCapstone read their corpora
 * from here, so the two never restate a generator.
 */
object SynthCorpus {

  /** The fixed vocabulary of [[synthDocs]]'s default corpus. */
  val Vocab = 400L

  /** N pseudo-documents of ~60 words drawn from a vocabulary of `vocab`
    * words by a hash mix — word w of doc d is fully determined by (d, w). */
  def synthDocs(spark: SparkSession, n: Long, vocab: Long = Vocab): DataFrame = {
    val words = transform(sequence(lit(0), lit(59)),
      i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(vocab))))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words).as("text"))
  }

  /** N unit-free pseudo-embeddings, dim 64, elements in [-1, 1). */
  def synthEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val vec = transform(sequence(lit(0), lit(63)),
      i => ((pmod(xxhash64(col("id"), i), lit(2000)).cast("float") - 1000f) / 1000f).cast("float"))
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  /**
   * The Heaps-scaled vocabulary for an n-doc corpus: vocab ∝ ∛n, anchored
   * at [[Vocab]] words / 80k docs. With a FIXED vocabulary expected 3-gram
   * bucket occupancy grows as n/V³ — it crosses 1 between 500k and 1.6M
   * docs, after which candidate-pair expansion measures corpus degeneracy
   * (every doc pair shares shingles), not the operator. Cube-root scaling
   * holds occupancy constant across sizes, the statistical shape a real
   * growing corpus has.
   */
  def heapsVocab(n: Long): Long =
    math.max(Vocab, math.round(Vocab * math.cbrt(n / 80000.0)))

  /**
   * The planted-pair dirty corpus: [[synthDocs]] where 1/m of the pair ids
   * (`doc_id div 2`) open with a shared 24-token block unique to the pair,
   * so 1/m of the docs are duplicated (m = 25 is the 4% design regime of
   * the sparse span plan). The pair id is INTEGER division: `col / 2` is
   * double division in Spark, and odd partners would get unique blocks.
   */
  def dirtyDocs(spark: SparkSession, n: Long, m: Int): DataFrame = {
    val pairId = expr("doc_id div 2")
    val block = concat_ws(" ", transform(sequence(lit(0), lit(23)),
      j => concat(lit("bp"), pmod(xxhash64(pairId, j), lit(999999)))))
    synthDocs(spark, n).withColumn("text",
      when(pairId % m === 0, concat(block, lit(" "), col("text")))
        .otherwise(col("text")))
  }

  /** N zero-padded sequential names (`user-000000042`): dense single-digit
    * substitution neighborhoods, the worst realistic bucket density for
    * edit-distance blocking. */
  def names(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      concat(lit("user-"), lpad(col("id").cast("string"), 9, "0")).as("name"))

  /** Whether the parquet artifact at `path` is committed: its `_SUCCESS`
    * marker exists. A directory without one is a write that died. */
  private def isCommitted(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The artifact at `path`, written from `df` unless already committed.
    * An uncommitted directory (a killed write's `_temporary/` residue) is
    * overwritten, so a crash never blocks a later run. */
  def writeOnce(df: => DataFrame, spark: SparkSession, path: String): DataFrame = {
    if (!isCommitted(spark, path)) df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Deterministic CLUSTERED embedding corpus — the fixture that separates
 * "the trainer is broken" from "the data has no clusters to find".
 *
 * The driver-generated `embeddings.parquet` tables are near-isotropic
 * (intra-centroid and inter-centroid cosine spreads are statistically
 * identical — SCALE.md "ANN recall & data geometry"), so
 * trained IVF centroids cannot beat naive modulo bucketing on them: there
 * is no structure to recover, and recall is bought by nprobe alone. This
 * fixture plants the structure real embedding corpora have: `clusters`
 * Gaussian prototypes, each point = its prototype + `noise`·N(0,1) per
 * dimension. At the default noise, cos(point, own prototype) ≈ 0.94 while
 * cross-prototype cosines concentrate near 0 — k-means recovers the
 * prototypes and nearest-centroid bucketing becomes ≈ cluster membership.
 *
 * Fully deterministic (seeded JVM PRNG, generation order fixed by index),
 * so bench/spec numbers are reproducible across rounds and machines.
 */
object ClusteredFixture {

  def build(spark: SparkSession, n: Int, dim: Int = 64, clusters: Int = 20,
            noise: Double = 0.35, seed: Long = 12345L): DataFrame = {
    require(n > 0 && dim > 0 && clusters > 0)
    val rnd = new scala.util.Random(seed)
    val protos = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))
    // round-robin cluster membership: every cluster gets n/clusters points,
    // and membership is recoverable as vec_id % clusters for spec checks
    val rows = (0 until n).map { i =>
      val p = protos(i % clusters)
      val v = new Array[Float](dim)
      var j = 0
      while (j < dim) { v(j) = (p(j) + noise * rnd.nextGaussian()).toFloat; j += 1 }
      (i.toLong, v.toSeq, i % clusters)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }
}

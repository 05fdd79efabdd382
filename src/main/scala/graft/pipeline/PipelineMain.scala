package graft.pipeline

import graft.GraftSession
import graft.gen.WeatherGenerator
import java.time.LocalDateTime

/** CLI for EP2/EP3: generate seeded fixtures (unless the raw dir exists)
  * and run the batch pipeline. Usage:
  *   runMain graft.pipeline.PipelineMain <workDir> [batches] [seed] */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-pipeline")
    val batches = if (args.length > 1) args(1).toInt else 12
    val seed = if (args.length > 2) args(2).toLong else 42L

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$work/raw").exists()) {
      WeatherGenerator.writeBatches(s"$work/raw",
        LocalDateTime.of(2026, 8, 12, 8, 0), batches, intervalSeconds = 600, seed = seed)
      println(s"generated $batches batches under $work/raw")
    }
    val result = BatchPipeline.run(spark, s"$work/raw", s"$work/store", s"$work/summary")
    println(result.report)
    spark.stop()
    if (!result.validationPassed) sys.exit(1)
  }
}

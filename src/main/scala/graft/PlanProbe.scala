package graft

/** Throwaway diagnosis main: execute a query and print the FINAL adaptive
  * plan (post-AQE, reuse substituted). Usage: runMain graft.PlanProbe [sfDir] [query] */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val name = if (args.length > 1) args(1) else graft.gates.LmGates.lmTokenScores.name
    val spark = GraftSession.local(4, "graft-plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalize df's OWN adaptive plan (a noop write plans a separate QueryExecution)
    println(s"======== $name FINAL ========")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}

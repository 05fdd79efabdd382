package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Stats.Metric

/** What a workload hands back: its end-to-end and per-layer numbers, the
  * checks it made, and the operations it attempted and saw fail. */
final case class Outcome(
    loadS: Double,
    serveS: Double,
    detail: Seq[Metric],
    layers: Seq[Metric],
    checks: Checks,
    attempted: Long,
    failed: Long)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val seconds: Int, val work: String) {
  def traced: Boolean = trace.enabled

  /** Seconds `f` takes, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  /** Build the run's inputs; called several times, `rep` counting from 0,
    * and only the last build is used. Returns nothing: the caller times it. */
  def prepare(ctx: Ctx, rep: Int): Unit

  /** Once-per-process work a long-running user would also pay only once;
    * timed as part of set-up. */
  def warmUp(ctx: Ctx): Unit = ()

  def measure(ctx: Ctx): Outcome
}

/**
 * Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
 * --trace <0|1>`. Prints the run's result as the last line of stdout; the
 * workload-specific numbers behind it go to stderr as one `detail` line.
 */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "weather_stream" -> (() => new WeatherStream),
    "weather_daily" -> (() => new WeatherDaily),
    "gates" -> (() => new Gates))

  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val make = Workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; expected one of ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", s".bench_build/work/$name-$seed"))
      .toAbsolutePath.toString
    Inputs.deleteTree(Paths.get(work))
    Files.createDirectories(Paths.get(work))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local(Cores, s"perfbench-$name")
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.quietWindowWarnings()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, seed, seconds, work)
    val wl = make()
    val prepS = Stats.median((0 until SetupReps).map(rep => ctx.timed(wl.prepare(ctx, rep))._2))
    val setupS = sessionS + prepS + ctx.timed(wl.warmUp(ctx))._2

    val out = try wl.measure(ctx) finally trace.close()
    spark.stop()
    val rssMb = peakRssMb()
    Inputs.deleteTree(Paths.get(work))

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("peak_rss_mb", rssMb, "MB"),
      Metric("load_s", out.loadS, "s"),
      Metric("serve_s", out.serveS, "s"))
    val failedChecks = out.checks.failed
    failedChecks.foreach { case (n, _, d) => System.err.println(s"[perfbench] check failed: $n: $d") }
    System.err.println("[perfbench] checks: " +
      out.checks.all.map { case (n, ok, _) => s"$n=${if (ok) "pass" else "FAIL"}" }.mkString(" "))
    val detail = e2e ++ out.detail
    System.err.println("[perfbench] detail: " +
      Stats.resultLine(out.checks.allPassed, out.attempted, out.failed, detail))
    val metrics =
      if (traced) Layers.complete(out.layers ++ detail.map(m => m.copy(name = s"e2e.${m.name}")))
      else e2e
    // every check is one more operation: a run that fails one is incorrect
    println(Stats.resultLine(out.checks.allPassed && out.failed == 0,
      out.attempted + out.checks.all.size, out.failed + failedChecks.size, metrics))
    System.out.flush()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}

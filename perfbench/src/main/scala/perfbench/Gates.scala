package perfbench

import scala.util.Random

import graft.{GraftSession, SparkEntry}
import Stats.Metric

/**
 * `gates`: a fixed set of `SparkEntry.queries` gates on the fixed sf0.1
 * tables, one or more per gate family, including slow gates the roadmap
 * names. One first-execution pass (which also builds, on first use, the
 * staged artifacts the set reads), then one warm pass. The seed only
 * permutes the order; the tables never change.
 *
 * The capstone gates (q127, q150) and the order-5 LM gates (q143, q145) are
 * left out: at local[4] their staged builds and executions add about 35 s
 * to a run, which the benchmark's run budget cannot carry.
 */
final class Gates extends Workload {
  private var dir = ""

  def prepare(ctx: Ctx, rep: Int): Unit = {
    dir = sys.env.getOrElse("PERFBENCH_SF_DIR", s"${sys.props("user.home")}/testdata/sf0.1")
    require(new java.io.File(dir, "documents.parquet").exists(), s"gate tables not found under $dir")
    GraftSession.sizeShuffleFor(ctx.spark, GraftSession.bytesOnDisk(ctx.spark, dir))
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val pins = Gates.pins
    val order = new Random(ctx.seed).shuffle(Gates.Set.map(_._1))
    val queries = SparkEntry.queries
    var failed = 0L

    def pass(phase: String): Map[String, Double] = order.map { q =>
      val full = queries.keys.find(_.startsWith(q + "_")).getOrElse(sys.error(s"no gate $q"))
      val (digest, s) = ctx.timed(ctx.trace.labelled(s"$phase/$q") {
        try Some(Digest.execute(queries(full)(spark, dir), s"gate:$q"))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $phase $q failed: $e"); failed += 1; None
        }
      })
      digest.foreach { d =>
        System.err.println(f"[perfbench] $phase $q $s%.3f s digest $d")
        checks.expect(s"$phase.$q", pins.get(q), Some(d))
      }
      q -> s
    }.toMap

    val first = pass("gates.first")
    val warm = pass("gates.warm")
    val firstS = first.values.sum
    val warmS = warm.values.sum
    val detail = Seq(
      Metric("gates_first_total_s", firstS, "s"),
      Metric("gates_warm_total_s", warmS, "s"))

    val layers =
      if (!ctx.traced) Nil
      else {
        val t = ctx.trace
        t.drain()
        Gates.Set.flatMap { case (q, _) =>
          Seq(Metric(s"SparkEntry.gate.$q.first_s", first(q), "s"),
            Metric(s"SparkEntry.gate.$q.warm_s", warm(q), "s"))
        } ++ Gates.Families.flatMap { f =>
          val qs = Gates.Set.collect { case (q, `f`) => q }
          val plan = qs.map(t.plan).foldLeft(PlanCounts.Zero)(_ + _)
          val fb = qs.map(q => t.fallbackCount(s"gates.first/$q") + t.fallbackCount(s"gates.warm/$q")).sum
          Seq(
            Metric(s"expressions.non_codegen_nodes.$f", plan.nonCodegenNodes.toDouble, "count"),
            Metric(s"expressions.codegen_fallbacks.$f", fb.toDouble, "count"),
            Metric(s"operators.exchanges.$f", plan.exchanges.toDouble, "count"))
        } ++ Seq("gates.first", "gates.warm").flatMap(p =>
            Layers.sparkUsage(p, t.usageWithPrefix(p + "/")))
      }
    Outcome(firstS, warmS, detail, layers, checks,
      attempted = 2L * order.size, failed = failed)
  }
}

object Gates {
  /** The gate set and each gate's family. */
  val Set: Seq[(String, String)] = Seq(
    "q12" -> "weather", "q25" -> "weather", "q26" -> "weather",
    "q09" -> "relational",
    "q107" -> "dedup", "q117" -> "dedup",
    "q84" -> "similarity", "q92" -> "similarity",
    "q132" -> "lm",
    "q104" -> "text",
    "q105" -> "sampling")

  val Families: Seq[String] = Set.map(_._2).distinct

  /** Row count and digest of each gate's result at sf0.1, pinned from a run
    * whose results the DuckDB oracle reported EXACT. */
  lazy val pins: Map[String, Digest] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream("/gate_pins.tsv"), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, d) = l.split("\\s+")
      q -> Digest.parse(d)
    }.toMap
    finally src.close()
  }
}

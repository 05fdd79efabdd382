package perfbench

import Stats.Metric

/** Every per-layer metric a traced run prints, with its unit. A workload
  * fills the ones its path reaches; the rest read 0 on that workload. The
  * list matches `per_layer` in BENCHMARK.json. */
object Layers {
  val Phases: Seq[String] =
    Seq("stream.drain", "stream.live", "daily.load", "daily.replay", "gates.first", "gates.warm")

  val all: Seq[(String, String)] =
    Seq(
      "streaming.latest_offset_s" -> "s",
      "streaming.query_planning_s" -> "s",
      "streaming.commit_s" -> "s",
      "streaming.add_batch_s" -> "s",
      "streaming.batches" -> "count",
      "functions.enrich_s" -> "s",
      "sources.json_read_s" -> "s",
      "sources.sink_write_s" -> "s",
      "sources.sink_files" -> "count",
      "sources.sink_bytes" -> "bytes",
      "sources.append_if_absent_s" -> "s",
      "sources.store_files" -> "count",
      "sources.existing_keys_rows" -> "count",
      "sources.overwrite_groups_s" -> "s",
      "analytics.daily_summary_s" -> "s",
      "pipeline.spark_jobs" -> "count",
      "pipeline.validate_s" -> "s",
      "bench.gen_lag_p95_s" -> "s",
      "bench.backlog_files_max" -> "count",
      "bench.gen_behind" -> "count") ++
      Gates.Set.flatMap { case (q, _) =>
        Seq(s"SparkEntry.gate.$q.first_s" -> "s", s"SparkEntry.gate.$q.warm_s" -> "s")
      } ++
      Gates.Families.flatMap(f => Seq(
        s"expressions.non_codegen_nodes.$f" -> "count",
        s"expressions.codegen_fallbacks.$f" -> "count",
        s"operators.exchanges.$f" -> "count")) ++
      Phases.flatMap(p => Seq(
        s"spark.exec_cpu_s.$p" -> "s",
        s"spark.shuffle_write_bytes.$p" -> "bytes",
        s"spark.spill_bytes.$p" -> "bytes",
        s"spark.gc_s.$p" -> "s",
        s"spark.tasks.$p" -> "count")) ++
      Seq(
        "e2e.setup_s" -> "s",
        "e2e.peak_rss_mb" -> "MB",
        "e2e.load_s" -> "s",
        "e2e.serve_s" -> "s",
        "e2e.stream_drain_rows_per_s" -> "1/s",
        "e2e.stream_fresh_p50_s" -> "s",
        "e2e.stream_fresh_p95_s" -> "s",
        "e2e.daily_load_s" -> "s",
        "e2e.daily_replay_s" -> "s",
        "e2e.store_bytes_per_row" -> "bytes",
        "e2e.gates_first_total_s" -> "s",
        "e2e.gates_warm_total_s" -> "s")

  /** Execute `df` in full, discarding the rows. */
  def run(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds to read `readings` from their files, and seconds the
    * enrichment adds over the same rows once they are cached. */
  def readAndEnrich(ctx: Ctx, readings: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val (_, readS) = ctx.timed(run(readings))
    val cached = readings.persist()
    cached.count()
    val (_, scanS) = ctx.timed(run(cached))
    val (_, enrS) = ctx.timed(run(graft.streaming.EnrichStream.enrich(cached)))
    cached.unpersist()
    (readS, math.max(0.0, enrS - scanS))
  }

  /** Spark's task totals of one phase as layer metrics. */
  def sparkUsage(phase: String, u: Usage): Seq[Metric] = Seq(
    Metric(s"spark.exec_cpu_s.$phase", u.cpuNs / 1e9, "s"),
    Metric(s"spark.shuffle_write_bytes.$phase", u.shuffleWriteBytes.toDouble, "bytes"),
    Metric(s"spark.spill_bytes.$phase", u.spillBytes.toDouble, "bytes"),
    Metric(s"spark.gc_s.$phase", u.gcMs / 1e3, "s"),
    Metric(s"spark.tasks.$phase", u.tasks.toDouble, "count"))

  /** All layer metrics in list order: measured ones as given, the rest 0.
    * A measured name that is not in the list is an error. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val known = all.toMap
    val unknown = measured.map(_.name).filterNot(known.contains)
    require(unknown.isEmpty, s"layer metrics missing from the list: ${unknown.mkString(", ")}")
    val byName = measured.map(m => m.name -> m).toMap
    all.map { case (n, u) => byName.get(n).map(_.copy(unit = u)).getOrElse(Metric(n, 0.0, u)) }
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import graft.analytics.DailySummary
import graft.pipeline.BatchPipeline
import graft.sources.JsonEnvelope
import graft.streaming.EnrichStream
import org.apache.spark.sql.functions._
import Stats.Metric

/**
 * `weather_daily`: the daily batch pipeline run twice, as the reference's
 * Airflow job would. First a load of several days (every row new, a
 * write-heavy partitioned append), then a replay over the same raw data plus
 * one new day (a read-heavy key scan and anti-join that appends one day).
 * Envelopes are fewer and larger than the stream's: one file per station
 * group per hour, many stations per file.
 */
final class WeatherDaily extends Workload {
  val Stations = 40
  val TickSeconds = 600
  val TicksPerFile = 6
  val LoadDays = 2
  private val filesPerDay = 24 * 3600 / (TickSeconds * TicksPerFile)
  private val rowsPerDay = filesPerDay.toLong * TicksPerFile * Stations

  private var in = ""
  private val stations = Inputs.stations(Stations)

  def prepare(ctx: Ctx, rep: Int): Unit = {
    if (in.nonEmpty) Inputs.deleteTree(Paths.get(in))
    in = s"${ctx.work}/in-$rep"
    val rng = new scala.util.Random(ctx.seed)
    (0 until LoadDays * filesPerDay).foreach(
      Inputs.writeFile(s"$in/raw", rng, stations, _, TicksPerFile, TickSeconds))
    (LoadDays * filesPerDay until (LoadDays + 1) * filesPerDay).foreach(
      Inputs.writeFile(s"$in/newday", rng, stations, _, TicksPerFile, TickSeconds))
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val raw = s"$in/raw"
    val store = s"${ctx.work}/store"
    val summary = s"${ctx.work}/summary"
    def run(phase: String) = ctx.timed(ctx.trace.labelled(phase)(
      BatchPipeline.run(spark, raw, store, summary)))

    val (load, loadS) = run("daily.load")
    // the new day lands in the raw archive, as the next day's files would
    val day = Inputs.hourDir("", Inputs.Start.plusDays(LoadDays)).getParent
    Files.createDirectories(Paths.get(raw, day.getParent.toString))
    Files.move(Paths.get(s"$in/newday", day.toString), Paths.get(raw, day.toString))
    val (replay, replayS) = run("daily.replay")

    val loadRows = LoadDays * rowsPerDay
    checks.expect("daily.load_rows", loadRows, load.loadedRows)
    checks.expect("daily.load_appends_all", loadRows, load.storedNew)
    checks.expect("daily.replay_appends_new_day", rowsPerDay, replay.storedNew)
    checks.check("daily.validation_passed", load.validationPassed && replay.validationPassed,
      s"load ${load.validationPassed}, replay ${replay.validationPassed}")
    val stored = spark.read.parquet(store)
    checks.expect("daily.store_rows", loadRows + rowsPerDay, stored.count())
    checks.expect("daily.store_no_duplicate_keys", loadRows + rowsPerDay,
      stored.select("station_id", "timestamp").distinct().count())
    val oneShot = DailySummary.compute(
      EnrichStream.enrich(JsonEnvelope.readBatch(spark, s"$raw/*/*/*/*"))
        .withColumn("reading_date", to_date(col("timestamp_parsed"))), "city", "reading_date")
    checks.expect("daily.summary_equals_one_shot",
      Digest.execute(oneShot, "check"),
      Digest.execute(spark.read.parquet(summary).select(oneShot.columns.map(col).toIndexedSeq: _*), "check"))

    val (storeFiles, storeBytes) = Inputs.parquetFiles(store)
    val detail = Seq(
      Metric("daily_load_s", loadS, "s"),
      Metric("daily_replay_s", replayS, "s"),
      Metric("store_bytes_per_row", storeBytes.toDouble / (loadRows + rowsPerDay), "bytes"))

    val layers =
      if (!ctx.traced) Nil
      else {
        ctx.trace.drain()
        val t = ctx.trace
        val (readS, enrS) = Layers.readAndEnrich(ctx, JsonEnvelope.readBatch(spark, s"$raw/*/*/*/*"))
        val cached = EnrichStream.enrich(JsonEnvelope.readBatch(spark, s"$raw/*/*/*/*"))
          .withColumn("reading_date", to_date(col("timestamp_parsed"))).persist()
        cached.count()
        val (_, sumS) = ctx.timed(Layers.run(DailySummary.compute(cached)))
        cached.unpersist()
        val jobs = t.usage("daily.load").jobs + t.usage("daily.replay").jobs
        Seq(
          Metric("sources.json_read_s", readS, "s"),
          Metric("functions.enrich_s", enrS, "s"),
          Metric("analytics.daily_summary_s", sumS, "s"),
          Metric("sources.append_if_absent_s",
            t.siteSeconds(_.startsWith("graft.sources.PartitionedStore$.appendIfAbsent")), "s"),
          Metric("sources.overwrite_groups_s",
            t.siteSeconds(_.startsWith("graft.sources.PartitionedStore$.overwriteGroups")), "s"),
          Metric("pipeline.validate_s", t.siteSeconds(_.startsWith("graft.pipeline.BatchPipeline$.run")), "s"),
          Metric("pipeline.spark_jobs", jobs.toDouble, "count"),
          Metric("sources.store_files", storeFiles.toDouble, "count"),
          Metric("sources.sink_bytes", storeBytes.toDouble, "bytes"),
          Metric("sources.existing_keys_rows", loadRows.toDouble, "count")) ++
          Layers.sparkUsage("daily.load", t.usage("daily.load")) ++
          Layers.sparkUsage("daily.replay", t.usage("daily.replay"))
      }
    Outcome(loadS, replayS, detail, layers, checks, attempted = 2, failed = 0)
  }
}

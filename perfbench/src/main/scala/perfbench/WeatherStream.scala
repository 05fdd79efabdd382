package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.sources.JsonEnvelope
import graft.streaming.EnrichStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import Stats.Metric

/**
 * `weather_stream`: the dual-sink enrichment stream over many small
 * envelope files, in two phases on one checkpoint.
 *
 *  - drain (closed loop): a fixed backlog, consumed with AvailableNow by a
 *    process already warmed up on a small throwaway drain;
 *  - live (open loop): one generator thread writes one file per tick on a
 *    fixed schedule, at about half the drain capacity the engine had when
 *    the benchmark was defined; each micro-batch starts as soon as the last
 *    one ends. Freshness runs from a file's scheduled write time to the
 *    commit of the micro-batch that holds it.
 */
final class WeatherStream extends Workload {
  val Stations = 10
  val TickSeconds = 60
  val BacklogFiles = 150
  /** Fixed live schedule: one file every PeriodMs. */
  val PeriodMs = 40L
  val MinLiveFiles = 300
  val WarmUpFiles = 20

  private var in = ""
  private val stations = Inputs.stations(Stations)

  def prepare(ctx: Ctx, rep: Int): Unit = {
    if (in.nonEmpty) Inputs.deleteTree(Paths.get(in))
    in = s"${ctx.work}/in-$rep"
    Inputs.writeFiles(in, ctx.seed, stations, 0, BacklogFiles, 1, TickSeconds)
  }

  /** A stream is a long-running process: JIT and first-query planning are
    * paid once at start, so a small throwaway drain pays them in set-up. */
  override def warmUp(ctx: Ctx): Unit = {
    val w = s"${ctx.work}/warmup"
    Inputs.writeFiles(s"$w/in", ctx.seed + 1, stations, 0, WarmUpFiles, 1, TickSeconds)
    EnrichStream.start(JsonEnvelope.readStream(ctx.spark, s"$w/in/*/*/*/*"),
      s"$w/processed", s"$w/alerts", s"$w/ckpt", Trigger.AvailableNow()).awaitTermination()
  }

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val glob = s"$in/*/*/*/*"
    val processed = s"${ctx.work}/processed"
    val alerts = s"${ctx.work}/alerts"
    val ckpt = s"${ctx.work}/ckpt"
    def start(trigger: Trigger): StreamingQuery =
      EnrichStream.start(JsonEnvelope.readStream(spark, glob), processed, alerts, ckpt, trigger)

    // drain: the backlog in one closed-loop pass
    val (drainQ, drainS) = ctx.timed {
      val q = start(Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    ctx.trace.alias(drainQ.runId.toString, "stream.drain")
    val drainRows = BacklogFiles.toLong * Stations

    // live: an open-loop generator on a fixed schedule
    val liveFiles = math.max(MinLiveFiles, (ctx.seconds * 1000L / PeriodMs).toInt)
    val liveQ = start(Trigger.ProcessingTime(0L))
    ctx.trace.alias(liveQ.runId.toString, "stream.live")
    val scheduled = new Array[Long](liveFiles)
    val written = new Array[Long](liveFiles)
    val names = new Array[String](liveFiles)
    val rng = new Random(ctx.seed * 31 + 7)
    val t0 = System.currentTimeMillis() + 500
    val gen = new Thread(() => {
      for (i <- 0 until liveFiles) {
        scheduled(i) = t0 + i * PeriodMs
        val wait = scheduled(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        names(i) = Inputs.writeFile(in, rng, stations, BacklogFiles + i, 1, TickSeconds)
          .getFileName.toString
        written(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val deadline = System.currentTimeMillis() + 120000
    def liveInput: Long = ctx.trace.progressList.filter(_.runId == liveQ.runId).map(_.numInputRows).sum
    while (liveInput < liveFiles && System.currentTimeMillis() < deadline && liveQ.isActive)
      Thread.sleep(20)
    liveQ.stop()
    liveQ.awaitTermination()
    ctx.trace.drain()
    val liveDone = liveInput >= liveFiles
    checks.check("stream.live_consumed", liveDone, s"live input ${liveInput} of $liveFiles files")

    // freshness: file → batch from the source log, batch → commit time
    val batchOf = WeatherStream.fileBatches(s"$ckpt/sources/0")
    val commitMs = (b: Long) => Files.getLastModifiedTime(Paths.get(s"$ckpt/commits/$b")).toMillis
    val commits = (0 until liveFiles).flatMap(i => batchOf.get(names(i)).map(b => i -> commitMs(b)))
    checks.expect("stream.live_files_committed", liveFiles, commits.size)
    val fresh = commits.map { case (i, c) => (c - scheduled(i)) / 1e3 }
    // a run short of samples reads 0 here and fails the checks above
    val freshP50 = if (fresh.isEmpty) 0.0 else Stats.median(fresh)
    val freshP95 = if (Stats.beyond(fresh.size, 95) < 10) 0.0 else Stats.supportedPercentile(fresh, 95)
    val lag = (0 until liveFiles).map(i => (written(i) - scheduled(i)) / 1e3)
    val behind = (0 until liveFiles).count(i => written(i) > scheduled(i) + PeriodMs)
    if (behind > 0)
      System.err.println(s"[perfbench] generator fell behind its schedule on $behind of $liveFiles files")
    val backlogMax = {
      val ev = commits.flatMap { case (i, c) => Seq((written(i), 1), (c, -1)) }
        .sortBy { case (t, d) => (t, d) }
      ev.scanLeft(0)(_ + _._2).max
    }

    // correctness
    val total = (BacklogFiles + liveFiles).toLong * Stations
    val cols = WeatherStream.enrichedColumns(spark, glob)
    val proc = spark.read.parquet(processed).select(cols.map(col): _*)
    checks.expect("stream.processed_rows", total, proc.count())
    checks.expect("stream.no_duplicate_keys", total,
      proc.select("station_id", "timestamp").distinct().count())
    checks.expect("stream.alerts_subset",
      Digest.execute(EnrichStream.alertsOnly(proc), "check"),
      Digest.execute(spark.read.parquet(alerts).select(cols.map(col): _*), "check"))
    checks.expect("stream.equals_batch",
      Digest.execute(EnrichStream.enrich(JsonEnvelope.readBatch(spark, glob)).select(cols.map(col): _*), "check"),
      Digest.execute(proc, "check"))

    val (sinkFiles, sinkBytes) = {
      val (f1, b1) = Inputs.parquetFiles(processed)
      val (f2, b2) = Inputs.parquetFiles(alerts)
      (f1 + f2, b1 + b2)
    }
    val detail = Seq(
      Metric("stream_drain_rows_per_s", drainRows / drainS, "1/s"),
      Metric("stream_fresh_p50_s", freshP50, "s"),
      Metric("stream_fresh_p95_s", freshP95, "s"))
    System.err.println(f"[perfbench] stream: drain ${drainS}%.3f s for $BacklogFiles files, " +
      f"$liveFiles live files every $PeriodMs ms, ${fresh.size} freshness samples, " +
      f"p50 $freshP50%.3f s p95 $freshP95%.3f s, backlog max $backlogMax")

    val layers =
      if (!ctx.traced) Nil
      else {
        val prog = ctx.trace.progressList
        def dur(keys: String*) =
          prog.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
        val (readS, enrS) = Layers.readAndEnrich(ctx, JsonEnvelope.readBatch(spark, glob))
        Seq(
          Metric("streaming.latest_offset_s", dur("latestOffset"), "s"),
          Metric("streaming.query_planning_s", dur("queryPlanning"), "s"),
          Metric("streaming.commit_s", dur("walCommit", "commitOffsets"), "s"),
          Metric("streaming.add_batch_s", dur("addBatch"), "s"),
          Metric("streaming.batches", prog.size.toDouble, "count"),
          Metric("sources.json_read_s", readS, "s"),
          Metric("functions.enrich_s", enrS, "s"),
          Metric("sources.sink_write_s",
            ctx.trace.siteSeconds(_.startsWith("graft.streaming.EnrichStream")), "s"),
          Metric("sources.sink_files", sinkFiles.toDouble, "count"),
          Metric("sources.sink_bytes", sinkBytes.toDouble, "bytes"),
          Metric("bench.gen_lag_p95_s", Stats.supportedPercentile(lag, 95), "s"),
          Metric("bench.backlog_files_max", backlogMax.toDouble, "count"),
          Metric("bench.gen_behind", behind.toDouble, "count")) ++
          Layers.sparkUsage("stream.drain", ctx.trace.usage("stream.drain")) ++
          Layers.sparkUsage("stream.live", ctx.trace.usage("stream.live"))
      }
    Outcome(drainS, freshP50, detail, layers, checks,
      attempted = BacklogFiles + liveFiles, failed = liveFiles - commits.size)
  }
}

object WeatherStream {
  /** Columns of the enriched readings, in the order the batch path gives. */
  def enrichedColumns(spark: org.apache.spark.sql.SparkSession, glob: String): Seq[String] =
    EnrichStream.enrich(JsonEnvelope.readBatch(spark, glob)).columns.toSeq
      .filterNot(Set("year", "month", "day", "hour"))

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name → micro-batch id, from the file source's metadata log
    * (plain and compacted entries alike). */
  def fileBatches(logDir: String): Map[String, Long] = {
    val dir = Paths.get(logDir)
    val s = Files.list(dir)
    try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq.flatMap { f =>
      Files.readAllLines(f).asScala.flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }
    }.toMap
    finally s.close()
  }
}

package graft

import graft.sources.JsonEnvelope
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{AlertEvent, StreakUpdate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  private def reading(station: String, ts: String, tempC: Double): String =
    s"""{"station_id":"$station","city":"X","country":"India","latitude":1.0,"longitude":1.0,
       |"timestamp":"$ts","temperature_celsius":$tempC,"humidity_percent":50.0,
       |"pressure_hpa":1000.0,"wind_speed_kmh":5.0,"wind_direction":"N","precipitation_mm":2.0,
       |"visibility_km":9.0,"uv_index":3,"weather_condition":"Cloudy","heat_index_celsius":$tempC}"""
      .stripMargin.replaceAll("\n", "")

  test("windowed aggregation with watermark over a file stream") {
    val root = Files.createTempDirectory("graft-window").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    Files.writeString(java.nio.file.Paths.get(raw, "b1.json"),
      s"""{"readings": [${reading("WS001", "2026-08-12T10:05:00", 30.0)},
         |${reading("WS001", "2026-08-12T10:55:00", 34.0)},
         |${reading("WS001", "2026-08-12T11:05:00", 20.0)},
         |${reading("WS002", "2026-08-12T10:10:00", 25.0)}]}""".stripMargin.replaceAll("\n", " "))

    val windowed = StatefulOps.windowedWeather(JsonEnvelope.readStream(spark, raw))
    val q = windowed.writeStream
      .format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // append mode only emits windows the watermark has closed; write a later
    // batch to advance the watermark past 11:00
    Files.writeString(java.nio.file.Paths.get(raw, "b2.json"),
      s"""{"readings": [${reading("WS001", "2026-08-12T13:00:00", 22.0)}]}""")
    val q2 = windowed.writeStream
      .format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)

    val out = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getAs[String]("station_id"),
        r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("reading_count"),
        r.getAs[Double]("avg_temperature"))).toSet
    assert(out.contains(("WS001", "2026-08-12 10:00:00.0", 2L, 32.0)))
    assert(out.contains(("WS001", "2026-08-12 11:00:00.0", 1L, 20.0)))
    assert(out.contains(("WS002", "2026-08-12 10:00:00.0", 1L, 25.0)))
  }

  test("stream-static join enriches the stream with broadcast dimension data") {
    val root = Files.createTempDirectory("graft-ssdim").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    Files.writeString(java.nio.file.Paths.get(raw, "b.json"),
      s"""{"readings": [${reading("WS001", "2026-08-12T10:00:00", 30.0)},
         |${reading("WS999", "2026-08-12T10:00:00", 25.0)}]}""".stripMargin.replaceAll("\n", " "))
    val stations = Seq(("WS001", "rooftop", 12)).toDF("station_id", "mount_type", "elevation_m")
    val q = StatefulOps.withStationMetadata(JsonEnvelope.readStream(spark, raw), stations)
      .select("station_id", "temperature_celsius", "mount_type", "elevation_m")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$root/out")
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(out == Map("WS001" -> Some("rooftop"), "WS999" -> None)) // left join keeps unknowns
  }

  test("stream-stream interval join pairs alerts with preceding readings") {
    val root = Files.createTempDirectory("graft-ssjoin").toString
    val rawR = s"$root/readings"; Files.createDirectories(java.nio.file.Paths.get(rawR))
    val rawA = s"$root/alerts"; Files.createDirectories(java.nio.file.Paths.get(rawA))
    // readings at 10:00 and 10:04; alert at 10:05 with a 5-minute window
    Files.writeString(java.nio.file.Paths.get(rawR, "r.json"),
      s"""{"readings": [${reading("WS001", "2026-08-12T10:00:00", 30.0)},
         |${reading("WS001", "2026-08-12T10:04:00", 44.0)},
         |${reading("WS001", "2026-08-12T09:30:00", 20.0)},
         |${reading("WS002", "2026-08-12T10:04:30", 25.0)}]}""".stripMargin.replaceAll("\n", " "))
    Files.writeString(java.nio.file.Paths.get(rawA, "a.json"),
      s"""{"readings": [${reading("WS001", "2026-08-12T10:05:00", 44.0)}]}""")

    val joined = StatefulOps.alertContextJoin(
      JsonEnvelope.readStream(spark, rawR),
      JsonEnvelope.readStream(spark, rawA).withColumn("alert_level", lit("WARNING")),
      windowSeconds = 300)
    val q = joined.writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val out = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getAs[String]("station_id"), r.getAs[Double]("context_temperature"))).toSet
    // only WS001's readings within [10:00, 10:05] join; 09:30 and WS002 excluded
    assert(out == Set(("WS001", 30.0), ("WS001", 44.0)))
  }

  test("alertStreaks tracks consecutive alert runs per station (batch mode)") {
    def e(st: String, lvl: String, min: Int) =
      AlertEvent(st, lvl, Timestamp.valueOf(f"2026-08-12 10:$min%02d:00"))
    val events = Seq(
      e("WS001", "NORMAL", 1), e("WS001", "WARNING", 2), e("WS001", "CRITICAL", 3),
      e("WS001", "WARNING", 4), e("WS001", "NORMAL", 5), e("WS001", "WARNING", 6),
      e("WS002", "NORMAL", 1), e("WS002", "WATCH", 2)).toDS()
    val got = StatefulOps.alertStreaks(events)
      .collect().map(u => u.stationId -> ((u.currentStreak, u.longestStreak))).toMap
    assert(got("WS001") == ((1, 3))) // WARNING,CRITICAL,WARNING = 3; ends on a fresh WARNING
    assert(got("WS002") == ((0, 0))) // WATCH does not count as alerting
  }

  test("transformWithState streak processor matches flatMapGroupsWithState across batches") {
    val root = Files.createTempDirectory("graft-tws").toString
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the RocksDB provider (multiple column
    // families); the HDFS-backed default refuses
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AlertEvent]
    val q = StatefulOps.alertStreaksTws(input.toDS())
      .writeStream.format("memory").queryName("tws_streaks")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(Seq(AlertEvent("WS001", "WARNING", Timestamp.valueOf("2026-08-12 10:00:00"))))
    q.processAllAvailable()
    input.addData(Seq(AlertEvent("WS001", "CRITICAL", Timestamp.valueOf("2026-08-12 10:01:00")),
      AlertEvent("WS002", "NORMAL", Timestamp.valueOf("2026-08-12 10:01:00"))))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM tws_streaks").as[StreakUpdate].collect()
    q.stop()
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert(rows.map(u => (u.stationId, u.currentStreak, u.longestStreak)).toSet
      == Set(("WS001", 1, 1), ("WS001", 2, 2), ("WS002", 0, 0)))
  }

  test("dedupDocStream drops duplicates within the watermark and evicts state past it") {
    val root = Files.createTempDirectory("graft-docdedup").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val stream = StatefulOps.dedupDocStream(
      input.toDS().toDF("ingested_at", "text"), "ingested_at", "text",
      lateness = "10 minutes")
    val q = stream.writeStream.format("memory").queryName("doc_dedup")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(Seq(
      ("2026-08-12 10:00:00", "the quick brown fox"),
      ("2026-08-12 10:00:01", "a different document"),
      ("2026-08-12 10:00:02", "the quick brown fox"))) // in-batch dup -> dropped
    q.processAllAvailable()
    input.addData(Seq(
      ("2026-08-12 10:05:00", "the quick brown fox"),   // cross-batch dup within horizon -> dropped
      ("2026-08-12 10:30:00", "a third document")))     // advances watermark to 10:20
    q.processAllAvailable()
    // fox's digest entry expired at 10:00+10min < watermark 10:20 -> state
    // evicted; re-sent content past the horizon is re-admitted (THE
    // distinction between dropDuplicatesWithinWatermark and a plain
    // watermarked dropDuplicates, whose key would include event time)
    input.addData(Seq(("2026-08-12 10:31:00", "the quick brown fox")))
    q.processAllAvailable()
    val texts = spark.sql("SELECT text FROM doc_dedup").collect().map(_.getString(0))
    q.stop()
    assert(texts.length == 4)
    assert(texts.count(_ == "the quick brown fox") == 2) // once per horizon
  }

  test("streaming incremental dedup over micro-batches equals one full-corpus LSH run") {
    import graft.operators.Dedup
    import graft.streaming.IncrementalDedup
    val root = Files.createTempDirectory("graft-incdedup").toString
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 150)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        outPath = s"$root/cands", checkpointPath = s"$root/ckpt") { (batch, tag) =>
      IncrementalDedup.step(batch, "doc_id", "text", s"$root/store", tag)
    }
    // three days of ingestion as three micro-batches
    docs.grouped(50).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    // the signature store accumulated every document exactly once
    assert(spark.read.parquet(s"$root/store").count() == 150)
    // unioned candidates = one full-corpus LSH run (same parameters):
    // within-batch pairs come from their own step, cross-batch pairs from
    // the later side's step, old×old never re-expands
    val streamed = spark.read.parquet(s"$root/cands")
      .select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashLshCandidates(
        Dedup.minhashSignatures(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
          n = 3, numHashes = 16), numHashes = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == full && full.nonEmpty)
    // one shared code path with the daily batch job: step() on a fresh
    // store over the same three "days" produces the same union
    val root2 = Files.createTempDirectory("graft-incdedup-batch").toString
    val batched = docs.grouped(50).zipWithIndex.flatMap { case (day, i) =>
      IncrementalDedup.step(day.toSeq.toDF("doc_id", "text"), "doc_id", "text",
          s"$root2/store", batchTag = s"day$i")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batched == full)
    // replay idempotence: re-running a tag (a foreachBatch retry) returns
    // the SAME candidates and leaves the store unchanged — the store write
    // overwrites its own partition, and the old side excludes the own tag
    val lastDay = docs.grouped(50).toSeq.last
    val before = spark.read.parquet(s"$root2/store").count()
    val replayed = IncrementalDedup.step(lastDay.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", s"$root2/store", batchTag = s"day2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val firstRun = IncrementalDedup.step(lastDay.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", s"$root2/store", batchTag = s"day2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed == firstRun)
    assert(spark.read.parquet(s"$root2/store").count() == before,
      "a replayed batch must not grow the signature store")
  }

  test("attach's candidate log is replay-exact: a batch re-run after a crash " +
    "replaces its rows instead of appending them again") {
    import graft.streaming.IncrementalDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-attachreplay").toString
    val days = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 150)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .grouped(75).toSeq
    def start(input: MemoryStream[(Long, String)]) =
      IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
          s"$root/cands", s"$root/ckpt") { (batch, tag) =>
        IncrementalDedup.step(batch, "doc_id", "text", s"$root/store", tag)
      }
    val first = MemoryStream[(Long, String)]
    val q = start(first)
    days.foreach { day => first.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    def pairs() = spark.read.parquet(s"$root/cands").select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val logged = pairs()
    assert(logged.nonEmpty && logged.distinct.size == logged.size)
    // a crash after batch 1's write and before its commit (no commit
    // file, no checksum beside it): Spark re-runs batch 1 on restart,
    // same batch id, same offsets
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(root, "ckpt", "commits", f)))
    val again = MemoryStream[(Long, String)]
    days.foreach(day => again.addData(day.toSeq))
    val q2 = start(again)
    q2.processAllAvailable()
    q2.stop()
    assert(Files.exists(java.nio.file.Paths.get(root, "ckpt", "commits", "1")),
      "the restart must re-run batch 1")
    val replayed = pairs()
    assert(replayed.size == replayed.distinct.size, "a replayed batch logged its pairs twice")
    assert(replayed.toSet == logged.toSet)
    assert(spark.read.parquet(s"$root/store").count() == 150)
  }

  test("incremental dedup union is invariant to batch boundaries and " +
    "arrival order (randomized partitions)") {
    // The decomposition claim behind the incremental plan: for ANY split
    // of the corpus into ordered batches, union of per-batch candidates
    // (new×new + new×old) equals the one-shot full run — within-batch
    // pairs from their own step, cross-batch pairs from the later side's
    // step, old×old never re-expanded. The fixed-50-doc test above pins
    // one split; random splits + shuffled arrival pin the general claim.
    import graft.operators.Dedup
    import graft.streaming.IncrementalDedup
    val rnd = new scala.util.Random(71)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 120)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val full = Dedup.minhashLshCandidates(
        Dedup.minhashSignatures(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
          n = 3, numHashes = 16), numHashes = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    (1 to 3).foreach { trial =>
      val root = Files.createTempDirectory(s"graft-incrand$trial").toString
      val shuffled = rnd.shuffle(docs.toSeq)
      // random batch boundaries: 2-5 batches of uneven sizes
      val nBatches = 2 + rnd.nextInt(4)
      val cuts = (Seq(0, shuffled.size) ++ Seq.fill(nBatches - 1)(rnd.nextInt(shuffled.size)))
        .distinct.sorted
      val union = cuts.sliding(2).zipWithIndex.flatMap { case (Seq(a, b), i) =>
        IncrementalDedup.step(shuffled.slice(a, b).toDF("doc_id", "text"),
            "doc_id", "text", s"$root/store", batchTag = s"b$i")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }.toSet
      assert(union == full, s"trial $trial (${cuts.size - 1} batches): " +
        s"${union.diff(full).take(3)} vs ${full.diff(union).take(3)}")
    }
  }

  test("band-layout signature store: pruned incremental step equals the plain loop") {
    import graft.streaming.IncrementalDedup
    val root = Files.createTempDirectory("graft-bandstore").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 150)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.grouped(50).zipWithIndex.foreach { case (day, i) =>
      val df = day.toSeq.toDF("doc_id", "text")
      val plain = IncrementalDedup.step(df, "doc_id", "text", s"$root/plain", s"day$i")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = IncrementalDedup.stepBandStore(df, "doc_id", "text",
          s"$root/banded", s"day$i")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == plain, "pruned band-store candidates must match the plain store")
    }
    // the layout really prunes: the touched-cell predicate lands in the
    // scan's PartitionFilters (directory pruning), NOT as a row filter
    // (pre-AQE sparkPlan — the adaptive wrapper hides the scan node)
    val cell = spark.read.parquet(s"$root/banded").select("band", "pfx").head()
    val pruned = spark.read.parquet(s"$root/banded")
      .where(col("band") === cell.getInt(0) && col("pfx") === cell.getInt(1))
    val scan = pruned.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.toString
    }.getOrElse(fail("no file scan in the pruned plan"))
    val pf = scan.substring(scan.indexOf("PartitionFilters:"))
      .takeWhile(_ != ']')
    assert(pf.contains("band") && pf.contains("pfx"),
      s"band/pfx equalities must be PARTITION filters, got: $pf")
  }

  test("ingest-time span screen equals the batch operator over the corpus-so-far") {
    import graft.operators.Dedup
    import graft.streaming.IncrementalDedup
    val root = Files.createTempDirectory("graft-spanstore").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 150)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    var seen = Seq.empty[(Long, String)]
    all.grouped(50).zipWithIndex.foreach { case (day, i) =>
      seen = seen ++ day
      val streamed = IncrementalDedup.stepSpans(day.toSeq.toDF("doc_id", "text"),
          "doc_id", "text", s"$root/spans", s"day$i", window = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // batch ground truth: ranges over EVERYTHING ingested so far,
      // restricted to this batch's docs (the ingest contract — old docs
      // were ruled on when they arrived)
      val ids = day.map(_._1).toSet
      val batchTruth = Dedup.duplicatedSpanRanges(seen.toDF("doc_id", "text"),
          "doc_id", "text", window = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(t => ids.contains(t._1)).toSet
      assert(streamed == batchTruth)
    }
    // the store accumulated every span row exactly once
    val spanRows = all.toSeq.toDF("doc_id", "text")
      .select(graft.functions.Text.shingles(col("text"), 20).as("s"))
      .select(explode(col("s"))).count()
    assert(spark.read.parquet(s"$root/spans").count() == spanRows)
    // the streaming wrapper drives the same loop: ranges logged per batch
    // over a MemoryStream equal the manual per-day union above
    implicit val sqlCtx = spark.sqlContext
    val root2 = Files.createTempDirectory("graft-spanattach").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        s"$root2/ranges", s"$root2/ckpt") { (batch, tag) =>
      IncrementalDedup.stepSpans(batch, "doc_id", "text", s"$root2/spans", tag, window = 20)
    }
    all.grouped(50).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamedAll = spark.read.parquet(s"$root2/ranges")
      .select("id", "span_start", "span_end", "n_windows").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = all.grouped(50).zipWithIndex.flatMap { case (day, i) =>
      // replay the same days against a THIRD store to get the per-day truth
      IncrementalDedup.stepSpans(day.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", s"$root2/manual", s"day$i", window = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toSet
    assert(streamedAll == expected)
  }

  test("streaming eval-passage cut equals the batch operator per micro-batch") {
    import graft.operators.Dedup
    import graft.streaming.IncrementalDedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-evalcut").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 150)
    val eval = all.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val rows = all.where(col("doc_id") % 10 =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // the eval side is static: its span hashes are checkpointed once per stream
    val evalHashes = Dedup.evalSpanHashes(eval, "doc_id", "text", window = 12)
      .localCheckpoint()
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        s"$root/out", s"$root/ckpt") { (batch, _) =>
      Dedup.cutEvalFixpointFromHashes(batch, evalHashes, "doc_id", "text",
        window = 12, maxRounds = 3)
    }
    rows.grouped(50).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Dedup.cutEvalPassagesToFixpoint(rows.toSeq.toDF("doc_id", "text"),
        eval, "doc_id", "text", window = 12)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // the op is cross-set only, so batch boundaries cannot change results
    // (no train×train interaction) — that is WHY this screen is stateless
  }

  test("streaming LM screen equals the batch threshold filter under the frozen model") {
    import graft.operators.NgramLm
    import graft.streaming.IncrementalDedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-lmstream").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    // calibration corpus: the first half; model and threshold FROZEN there
    val calib = all.where(col("doc_id") < 100)
    val lm = NgramLm.lmCounts(calib, "text", n = 3, minCount = 2L).localCheckpoint()
    val tot = NgramLm.lmTotals(calib, "text").localCheckpoint()
    val maxPpl = NgramLm.pplQuantile(calib, lm, tot, "doc_id", "text", q = 0.8)
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        s"$root/out", s"$root/ckpt") { (batch, _) =>
      NgramLm.pplThresholdFilter(batch, lm, tot, "doc_id", "text", maxPpl)
    }
    rows.grouped(60).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = NgramLm.pplThresholdFilter(all, lm, tot, "doc_id", "text", maxPpl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the screen really screens: some of the second half is dropped, some
    // admitted (the frozen threshold came from the first half's 0.8
    // quantile, so ~20% of in-distribution docs fall past it)
    assert(batch.nonEmpty && batch.size < rows.length)
  }

  test("streaming INTEGER fluency screen equals the batch threshold filter " +
    "AND the capstone stage under the same frozen model (bit-exact twin)") {
    import graft.operators.NgramLm
    import graft.pipeline.CorpusPipeline
    import graft.streaming.IncrementalDedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-flustream").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    val calib = all.where(col("doc_id") < 100)
    val lm = NgramLm.lmCounts(calib, "text", n = 3, minCount = 2L).localCheckpoint()
    val tot = NgramLm.lmTotals(calib, "text").localCheckpoint()
    val (num, den) = (14, 15) // ≈0.933 — the frozen model’s ~p10 match ratio
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        s"$root/out", s"$root/ckpt") { (batch, _) =>
      NgramLm.fluencyThresholdFilter(batch, lm, tot, "doc_id", "text", num, den)
    }
    rows.grouped(60).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = NgramLm.fluencyThresholdFilter(all, lm, tot, "doc_id", "text",
        num, den)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the screen is live: the frozen first-half model recognizes its own
    // docs but backs off on enough unseen-vocabulary docs to drop some
    assert(batch.nonEmpty && batch.size < rows.length)
    // stage ≡ operator under lmTrainDocs: the capstone's fluency stage
    // with a frozen calibration model keeps exactly the operator's ids
    // over its own screened corpus
    val noEval = all.where(lit(false))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    val (base, _) = CorpusPipeline.run(all, noEval, "doc_id", "text", stages)
    val (kept, _) = CorpusPipeline.run(all, noEval, "doc_id", "text", stages,
      fluencyMin = Some(num -> den), lmTrainDocs = Some(calib))
    val viaStage = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaOp = NgramLm.fluencyThresholdFilter(base.select("doc_id", "text"),
        lm, tot, "doc_id", "text", num, den)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaStage == viaOp)
  }

  test("streaming admission banding under frozen edges equals the batch " +
    "assignment (the CCNet score-file contract)") {
    import graft.operators.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-bandstream").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val calib = all.where(col("doc_id") < 250)
    val frozen = CorpusStats.exactQuantilesByGroup(calib, "source", "n_chars",
        Seq(("p33", 1, 3), ("p66", 2, 3)))
      .select("source", "p33", "p66").localCheckpoint()
    val bands = Seq("tail", "middle", "head")
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val banded = CorpusStats.bandByEdges(
      input.toDS().toDF("doc_id", "source", "n_chars"),
      frozen, "source", "n_chars", Seq("p33", "p66"), bands)
    val q = banded.writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    rows.grouped(120).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val batch = CorpusStats.bandByEdges(all, frozen, "source", "n_chars",
        Seq("p33", "p66"), bands)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(streamed == batch)
    // the calibration split is live: the admitted docs land in all three
    // bands, so the parity isn't vacuous
    assert(streamed.values.toSet == bands.toSet)
  }

  test("band-rate streaming admission under frozen edges equals the batch " +
    "draw (the q148 twin: banding and the rate test are both stateless)") {
    import graft.operators.{CorpusStats, Sampling}
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-ratestream").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val frozen = CorpusStats.exactQuantilesByGroup(
        all.where(col("doc_id") < 250), "source", "n_chars",
        Seq(("p33", 1, 3), ("p66", 2, 3)))
      .select("source", "p33", "p66").localCheckpoint()
    val bands = Seq("tail", "middle", "head")
    val rates = Map("head" -> ((9, 10)), "middle" -> ((1, 2)),
      "tail" -> ((1, 10)))
    def screen(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSampleByGroup(
        CorpusStats.bandByEdges(df, frozen, "source", "n_chars",
          Seq("p33", "p66"), bands),
        "band", "doc_id", rates)
    val batch = screen(all).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < all.count())
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val q = screen(input.toDS().toDF("doc_id", "source", "n_chars"))
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    rows.grouped(120).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }

  test("classifier-screened streaming admission under a frozen model and " +
    "total equals the batch classifier-weighted PPS draw (the q147 twin)") {
    import graft.operators.{Classifier, Sampling}
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-clsstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // calibration: train a frozen model (any cheap teacher — the twin is
    // about admission parity, not accuracy) and census the frozen Σw —
    // the previous release's score total, the ppsSampleWithTotal contract
    val m = Classifier.trainPerceptron(
      docs.withColumn("is_pass", length(col("text")) > 80),
      "doc_id", "is_pass", "text", ns = Seq(2), buckets = 4096,
      sampleN = 64, epochs = 2)
    val scoreOf = Classifier.scoreColumn(m, col("text"), ns = Seq(2),
      buckets = 4096)
    // coalesce the empty-filter NULL sum to 0 so the diagnostic assert
    // fires instead of an NPE if the fixture ever stops producing
    // positive scores
    val total = docs.select(scoreOf.as("s")).where(col("s") > 0)
      .agg(coalesce(sum("s"), lit(0L))).head().getLong(0)
    assert(total > 0, "fixture must produce positive scores")
    // batch truth: the q147 composition against the known total; the
    // scoreColumn fold is spec-pinned ≡ scoreDocs, so this is q147's
    // admission rule exactly
    val batch = Sampling.ppsSampleWithTotal(
        docs.withColumn("score", scoreOf), "doc_id", col("score"),
        targetRows = 25L, seed = 11L, total = total)
      .select("doc_id", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "the draw must admit something")
    // streaming: the SAME stateless narrow filter — fold + fixed-total
    // inclusion, no aggregation, no state — over a MemoryStream
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val admitted = Sampling.ppsSampleWithTotal(
      input.toDS().toDF("doc_id", "text")
        .withColumn("score", Classifier.scoreColumn(m, col("text"),
          ns = Seq(2), buckets = 4096)),
      "doc_id", col("score"), targetRows = 25L, seed = 11L, total = total)
    val q = admitted.writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt").start()
    rows.grouped(120).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("streaming line screen equals the batch operator over the corpus-so-far") {
    import graft.operators.Cleaning
    import graft.streaming.IncrementalDedup
    import spark.implicits._
    val root = Files.createTempDirectory("graft-linestream").toString
    // every doc wrapped in chrome; "cookie banner" crosses minDocs=10 in
    // day 2 — day-1 docs keep it (ruled on at arrival), later docs lose it
    val all = (1L to 24L).map(i =>
      (i, s"cookie banner\nunique body number $i\nfooter of ${if (i <= 12) "alpha" else "beta"}"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    all.grouped(8).zipWithIndex.foreach { case (day, i) =>
      seen ++= day
      val streamed = IncrementalDedup.stepLines(day.toSeq.toDF("doc_id", "text"),
          "doc_id", "text", s"$root/lines", s"day$i", sep = "\n", minDocs = 10L)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val ids = day.map(_._1).toSet
      val batchTruth = Cleaning.dropFrequentLines(seen.toSeq.toDF("doc_id", "text"),
          "doc_id", "text", "\n", minDocs = 10L)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .filter(t => ids.contains(t._1)).toSet
      assert(streamed == batchTruth)
    }
    // day 1 untouched (banner at 8 < 10 then); day 3 loses the banner
    val d1 = IncrementalDedup.stepLines(Seq((100L, "probe\nno chrome")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/lines", "day3", "\n", 10L)
    assert(d1.collect().map(_.getString(1)).head == "probe\nno chrome")
    // the store holds one row per distinct (doc, line): 24 docs × 3 lines
    // + the probe's 2 (all lines distinct within every doc here)
    assert(spark.read.parquet(s"$root/lines").count() == 24L * 3 + 2)
    // replaying a tag is idempotent: same verdicts, store unchanged
    val replay = IncrementalDedup.stepLines(all.take(8).toDF("doc_id", "text"),
        "doc_id", "text", s"$root/lines", "day0", "\n", 10L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replay.forall { case (_, t) => !t.contains("cookie banner") },
      "replay sees the GROWN store: day-0 docs would now be cut — " +
        "the contract is store-state-exact, not time-travel")
    assert(spark.read.parquet(s"$root/lines").count() == 24L * 3 + 2)
    // the streaming wrapper drives the same loop
    implicit val sqlCtx = spark.sqlContext
    val root2 = Files.createTempDirectory("graft-lineattach").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalDedup.attach(input.toDS().toDF("doc_id", "text"),
        s"$root2/out", s"$root2/ckpt") { (batch, tag) =>
      IncrementalDedup.stepLines(batch, "doc_id", "text", s"$root2/lines", tag,
        sep = "\n", minDocs = 10L)
    }
    all.grouped(8).foreach { day => input.addData(day.toSeq); q.processAllAvailable() }
    q.stop()
    val streamedAll = spark.read.parquet(s"$root2/out")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = all.grouped(8).zipWithIndex.flatMap { case (day, i) =>
      IncrementalDedup.stepLines(day.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", s"$root2/manual", s"day$i", "\n", 10L)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }.toSet
    assert(streamedAll == expected)
  }

  test("SpaceSaving heavy hitters accumulate across micro-batches") {
    import graft.expressions.SpaceSavingAgg
    val root = Files.createTempDirectory("graft-hhstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val agg = input.toDS().toDF("token")
      .agg(SpaceSavingAgg.heavyHitters(col("token"), 10).as("hh"))
    val q = agg.writeStream.format("memory").queryName("hh_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("complete").start()
    input.addData("a", "a", "b"); q.processAllAvailable()
    input.addData("b", "b", "c"); q.processAllAvailable()
    val hh = spark.sql("SELECT explode(hh) AS e FROM hh_stream")
      .selectExpr("e._1", "e._2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    // k covers the domain -> exact counts, accumulated across both batches
    assert(hh == Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
  }

  test("count-min sketch accumulates across micro-batches to the batch sketch") {
    import graft.expressions.CountMinAgg
    val root = Files.createTempDirectory("graft-cmsstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val (depth, width) = (3, 16)
    val agg = input.toDS().toDF("token")
      .agg(CountMinAgg.sketch(col("token"), depth, width).as("sk"))
    val q = agg.writeStream.format("memory").queryName("cms_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("complete").start()
    input.addData("a", "a", "b"); q.processAllAvailable()
    input.addData("b", "b", "c"); q.processAllAvailable()
    val streamed = spark.sql("SELECT sk FROM cms_stream").head().getSeq[Long](0)
    q.stop()
    // additive merge: streamed accumulation == one-shot batch sketch
    val batch = Seq("a", "a", "b", "b", "b", "c").toDF("token")
      .agg(CountMinAgg.sketch(col("token"), depth, width)).head().getSeq[Long](0)
    assert(streamed == batch)
    assert(CountMinAgg.estimate(streamed, "b", depth, width) >= 3L)
  }

  test("bottom-k sketch accumulates across micro-batches to the batch sample") {
    import graft.expressions.BottomKSketchAgg
    import graft.functions.Hashing
    val root = Files.createTempDirectory("graft-bkstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val k = 8
    val smp = BottomKSketchAgg.sampleByHash(
      Hashing.stableHash60(col("id").cast("string")), col("v"), k)
    val agg = input.toDS().toDF("id", "v").agg(smp.as("smp"))
    val q = agg.writeStream.format("memory").queryName("bk_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("complete").start()
    val rows = (1L to 40L).map(i => (i, i * 10L))
    input.addData(rows.take(25): _*); q.processAllAvailable()
    input.addData(rows.drop(25): _*); q.processAllAvailable()
    val streamed = spark.sql("SELECT smp FROM bk_stream").head().getSeq[Long](0)
    q.stop()
    // set-function state: streamed accumulation == one-shot batch sample
    val batch = rows.toDF("id", "v").agg(smp).head().getSeq[Long](0)
    assert(streamed == batch && streamed.length == k)
  }

  test("HLL registers accumulate across micro-batches and shrug off re-delivery") {
    import graft.expressions.HllRegisterAgg
    val root = Files.createTempDirectory("graft-hllstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val p = 4
    val agg = input.toDS().toDF("v")
      .agg(HllRegisterAgg.registers(col("v"), p).as("regs"))
    val q = agg.writeStream.format("memory").queryName("hll_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("complete").start()
    input.addData("a", "a", "b"); q.processAllAvailable()
    // second batch RE-DELIVERS a and b — max-merge is idempotent, so
    // at-least-once delivery cannot corrupt the sketch (CMS would inflate)
    input.addData("a", "b", "c"); q.processAllAvailable()
    val streamed = spark.sql("SELECT regs FROM hll_stream").head().getSeq[Int](0)
    q.stop()
    val batch = Seq("a", "b", "c").toDF("v")
      .agg(HllRegisterAgg.registers(col("v"), p)).head().getSeq[Int](0)
    assert(streamed == batch)
  }

  test("fixed-total PPS sampling admits identically in batch and streaming") {
    import graft.operators.Sampling
    val root = Files.createTempDirectory("graft-ppsstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    // a pure narrow filter: applies to the streaming frame DIRECTLY —
    // no aggregation, no state, no foreachBatch required
    val admitted = Sampling.ppsSampleWithTotal(
      input.toDS().toDF("id", "wt"), "id", col("wt"),
      targetRows = 40L, seed = 5L, total = 5000L)
    val q = admitted.writeStream.format("memory").queryName("pps_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    val rows = (1L to 200L).map(i => (i, i % 50 + 1))
    input.addData(rows.take(120): _*); q.processAllAvailable()
    input.addData(rows.drop(120): _*); q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM pps_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val batch = Sampling.ppsSampleWithTotal(rows.toDF("id", "wt"), "id",
        col("wt"), 40L, 5L, 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("span corruption per micro-batch equals the batch run (doc-local operator)") {
    import graft.operators.Augment
    val root = Files.createTempDirectory("graft-corrstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.Set[(Long, String, String)]()
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= Augment.spanCorruption(bdf, "doc_id", "text", 15, 7L)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        ()
      }.start()
    val docs = (1L to 40L).map(i => (i, (1 to 20).map(k => s"tok${i}_$k").mkString(" ")))
    input.addData(docs.take(25): _*); q.processAllAvailable()
    input.addData(docs.drop(25): _*); q.processAllAvailable()
    q.stop()
    val batch = Augment.spanCorruption(docs.toDF("doc_id", "text"), "doc_id", "text", 15, 7L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(acc.toSet == batch && batch.nonEmpty)
  }

  test("overlap join runs stream-static (new segments vs reference windows), " +
    "batch-identical") {
    import graft.operators.RangeJoin
    val root = Files.createTempDirectory("graft-ivstream").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static side: reference validity windows; stream side: arriving segments
    val ref = Seq((100L, 0L, 0L, 50L), (101L, 0L, 40L, 90L), (102L, 1L, 10L, 20L))
      .toDF("id", "k", "s", "e")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Long)]
    val joined = RangeJoin.joinByOverlap(
      input.toDS().toDF("id", "k", "s", "e"), ref, Seq("k"), "s", "e", 16L)
      .select("k", "a_id", "b_id")
    val q = joined.writeStream.format("memory").queryName("iv_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    val segs = Seq((1L, 0L, 45L, 60L), (2L, 0L, 90L, 95L), (3L, 1L, 5L, 15L),
      (4L, 0L, 49L, 49L), (5L, 1L, 19L, 30L))
    input.addData(segs.take(3): _*); q.processAllAvailable()
    input.addData(segs.drop(3): _*); q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM iv_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val batch = RangeJoin.joinByOverlap(
        segs.toDF("id", "k", "s", "e"), ref, Seq("k"), "s", "e", 16L)
      .select("k", "a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("FIM transform applies to a streaming frame directly, batch-identical " +
    "(stateless projection)") {
    import graft.operators.Augment
    val root = Files.createTempDirectory("graft-fimstream").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = Augment.fimTransform(input.toDS().toDF("doc_id", "text"),
      "doc_id", "text", applyPct = 60, seed = 7L)
    val q = out.writeStream.format("memory").queryName("fim_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    val docs = (1L to 40L).map(i => (i, (1 to 15).map(k => s"t${i}_$k").mkString(" ")))
    input.addData(docs.take(23): _*); q.processAllAvailable()
    input.addData(docs.drop(23): _*); q.processAllAvailable()
    val streamed = spark.sql("SELECT id, fim_applied, fim_text FROM fim_stream")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    q.stop()
    val batch = Augment.fimTransform(docs.toDF("doc_id", "text"),
        "doc_id", "text", 60, 7L)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    assert(streamed == batch && batch.exists(_._2))
  }

  test("bloomScreen flags contaminated docs identically in batch and streaming") {
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft-bloomscreen").toString
    implicit val sqlCtx = spark.sqlContext
    // eval set: two benchmark documents; bitmap over their shingle hashes
    val eval = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "to be or not to be that is the question")).toDF("doc_id", "text")
    val te = Dedup.hashedShingles(eval, "doc_id", "text", 3)
    val words = graft.expressions.BloomExprs.buildBitmap(te, "h", 1 << 16)
    val incoming = Seq(
      "the quick brown fox jumps high",        // shares "the quick brown" etc -> flagged
      "completely unrelated fresh content here", // clean
      "wondering to be or not to be today",    // shares "to be or" -> flagged
      "short doc")                             // < n words, no shingles -> clean
    val screen = Dedup.bloomScreen(col("text"), 3, words, 1 << 16)
    val batch = incoming.toDF("text").withColumn("flag", screen)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(batch("the quick brown fox jumps high"))
    assert(!batch("completely unrelated fresh content here"))
    assert(batch("wondering to be or not to be today"))
    assert(!batch("short doc"))
    // the SAME column over a stream, unchanged — and identical verdicts
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = input.toDS().toDF("text").withColumn("flag", screen)
      .writeStream.format("memory").queryName("bloom_screen")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(incoming)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT text, flag FROM bloom_screen").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    q.stop()
    assert(streamed == batch)
  }

  test("the 21-stage quality funnel screens a stream identically to batch " +
    "Cleaning.survivors (ingest-time Gopher + repetition twins)") {
    // every stage is a pure per-doc expression (the NgramRepetition
    // aggregates included), so the SAME stage list the capstone funnel
    // gates in batch (q127/q133/q134/q136) is admission-ready unchanged —
    // no state, no watermark, batch boundaries can't matter
    val root = Files.createTempDirectory("graft-funnelstream").toString
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 150)
    val stages =
      Seq("min_tokens" -> (graft.functions.Text.tokenCount(col("text")) >= 20)) ++
        graft.functions.Quality.gopherStages("text", graft.functions.Text.Stopwords) ++
        graft.functions.Quality.repetitionStages("text")
    val keep = stages.map(_._2).reduce(_ && _)
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").where(keep)
      .writeStream.format("memory").queryName("funnel_stream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    rows.grouped(60).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.sql("SELECT doc_id FROM funnel_stream")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.operators.Cleaning.survivors(all, stages)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the screen is live on this corpus: some docs drop, some pass
    assert(batch.nonEmpty && batch.size < rows.length)
  }

  test("stableHash60Scala equals the Column stableHash60 (streaming draws match batch)") {
    val keys = (0 until 200).map(i => s"k$i" * (i % 5 + 1)) :+ "" :+ "πü€"
    val fromCol = keys.toDF("s")
      .select(graft.functions.Hashing.stableHash60(col("s"))).as[Long].collect()
    val fromScala = keys.map(graft.functions.Hashing.stableHash60Scala)
    assert(fromCol.toSeq == fromScala)
  }

  test("rollingFeaturesStream matches batch rollingFeatures across micro-batches") {
    import graft.streaming.StatefulOps.{RollingFeature, TimedValue}
    val root = Files.createTempDirectory("graft-roll").toString
    implicit val sqlCtx = spark.sqlContext
    // two keys, epochs spaced so frames span the batch boundary; equal-epoch
    // peers included to pin the strictly-before exclusion
    val all = Seq(
      TimedValue(1L, 10L, 100L, 1.25), TimedValue(1L, 11L, 150L, 2.5),
      TimedValue(1L, 12L, 150L, 4.0), TimedValue(1L, 13L, 460L, 8.0),
      TimedValue(1L, 14L, 700L, 16.0), TimedValue(2L, 20L, 120L, 3.3),
      TimedValue(2L, 21L, 300L, 5.7), TimedValue(2L, 22L, 900L, 7.1))
    val (b1, b2) = all.partition(_.epoch < 400) // in-order split per key
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TimedValue]
    val q = StatefulOps.rollingFeaturesStream(input.toDS(), lookbackSec = 360)
      .writeStream.format("memory").queryName("rollstream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.sql("SELECT * FROM rollstream").as[RollingFeature].collect()
      .map(r => (r.key, r.id, r.epoch, r.priorCount, r.priorSum, r.priorMax)).toSet
    q.stop()
    val expected = graft.operators.Aggregates.rollingFeatures(
        all.toDF("key", "id", "epoch", "value")
          .withColumn("ts", timestamp_seconds(col("epoch"))),
        "key", "ts", "value", lookbackSec = 360, idCol = "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toSet
    assert(got == expected)
  }

  test("trailingRangeStream matches batch trailingRange across micro-batches " +
    "(ties co-batched, frames span the boundary)") {
    import graft.streaming.StatefulOps.{TrailOut, TrailRow}
    val root = Files.createTempDirectory("graft-trail").toString
    implicit val sqlCtx = spark.sqlContext
    // same shape as the q119 fixture: irregular spacing, equal-epoch peers
    // (arriving within one batch), frames spanning the batch boundary
    val all = Seq(
      TrailRow(1L, 10L, 0L, 1L), TrailRow(1L, 11L, 50L, 2L),
      TrailRow(1L, 12L, 100L, 3L), TrailRow(1L, 13L, 100L, 4L),
      TrailRow(1L, 14L, 430L, 8L), TrailRow(1L, 15L, 3000L, 16L),
      TrailRow(2L, 20L, 60L, 5L), TrailRow(2L, 21L, 400L, 7L))
    val (b1, b2) = all.partition(_.epoch < 400) // in-order split per key
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TrailRow]
    val q = StatefulOps.trailingRangeStream(input.toDS(), horizonSec = 400)
      .writeStream.format("memory").queryName("trailstream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.sql("SELECT * FROM trailstream").as[TrailOut].collect()
      .map(r => (r.key, r.id, r.epoch, r.v, r.trailN, r.trailSum)).toSet
    q.stop()
    val expected = graft.operators.Aggregates.trailingRange(
        all.toDF("key", "id", "epoch", "v"), Seq("key"), "epoch", col("v"),
        horizon = 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("capPerGroupStream: single-batch draw is bit-identical to batch; cap holds across batches") {
    import graft.streaming.StatefulOps.KeyedRow
    val root = Files.createTempDirectory("graft-cap").toString
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).map(i => KeyedRow(if (i % 2 == 0) "a" else "b", i))
    // single batch: same hash-rank draw as Sampling.capPerGroup
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KeyedRow]
    val q = StatefulOps.capPerGroupStream(input.toDS(), maxPerGroup = 5)
      .writeStream.format("memory").queryName("capstream")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    input.addData(rows); q.processAllAvailable()
    val got1 = spark.sql("SELECT * FROM capstream").as[KeyedRow].collect().toSet
    val batch = graft.operators.Sampling.capPerGroup(
        rows.toDF("group", "id"), "group", "id", maxPerGroup = 5)
      .select("group", "id").as[KeyedRow].collect().toSet
    assert(got1 == batch)
    // second batch: groups are full — nothing further admitted
    input.addData((41L to 60L).map(i => KeyedRow(if (i % 2 == 0) "a" else "b", i)))
    q.processAllAvailable()
    val got2 = spark.sql("SELECT * FROM capstream").as[KeyedRow].collect()
    q.stop()
    assert(got2.length == 10 && got2.toSet == got1)
  }

  test("alertStreaks carries state across micro-batches (streaming mode)") {
    val root = Files.createTempDirectory("graft-streak").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AlertEvent]
    val stream = StatefulOps.alertStreaks(input.toDS())
    val q = stream.writeStream.format("memory").queryName("streaks")
      .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
    def emit(rows: AlertEvent*): Unit = { input.addData(rows); q.processAllAvailable() }

    emit(AlertEvent("WS001", "WARNING", Timestamp.valueOf("2026-08-12 10:00:00")))
    emit(AlertEvent("WS001", "CRITICAL", Timestamp.valueOf("2026-08-12 10:01:00")))
    val rows = spark.sql("SELECT * FROM streaks").as[StreakUpdate].collect()
    q.stop()
    // second batch continued the streak from checkpointed state: 2, not 1
    assert(rows.map(u => (u.currentStreak, u.longestStreak)).toSet == Set((1, 1), (2, 2)))
  }
}

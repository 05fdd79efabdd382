package graft

import graft.gen.WeatherGenerator
import graft.pipeline.BatchPipeline
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.time.SpanSugar._

/** EP3 → EP2 end-to-end: seeded generator → raw envelopes → batch pipeline
  * (enrich, dedup-append, daily summary, validate, report). */
class PipelineSpec extends SparkSpec {

  test("generator is deterministic under a fixed seed") {
    val a = WeatherGenerator.readingJson(new scala.util.Random(7),
      WeatherGenerator.Stations.head, LocalDateTime.of(2026, 8, 12, 14, 0))
    val b = WeatherGenerator.readingJson(new scala.util.Random(7),
      WeatherGenerator.Stations.head, LocalDateTime.of(2026, 8, 12, 14, 0))
    assert(a == b)
    assert(a.contains("\"station_id\":\"STATION_001\"") && a.contains("\"city\":\"Mumbai\""))
  }

  test("generator heat index matches the engine's Column expression") {
    import graft.functions.Enrich
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cases = Seq((26.0, 90.0), (28.0, 80.0), (32.0, 60.0), (38.0, 75.0), (44.0, 30.0))
    val engine = cases.toDF("t", "h")
      .select(Enrich.heatIndex(col("t"), col("h")).as("hi"))
      .collect().map(_.getDouble(0)).toSeq
    val gen = cases.map { case (t, h) => WeatherGenerator.heatIndexC(t, h) }
    assert(engine == gen)
  }

  /** Writes one envelope with no readings under `raw`'s first hour. */
  private def writeEmptyEnvelope(raw: String): Unit = {
    val hour = Paths.get(raw, "year=2026", "month=08", "day=12", "hour=10")
    Files.createDirectories(hour)
    Files.writeString(hour.resolve("batch_20260812_100000_empty.json"), """{"readings": []}""")
  }

  /** The Parquet data files under a table directory. */
  private def dataFiles(table: String): Set[Path] = {
    val files = Files.walk(Paths.get(table))
    try files.filter(_.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path]).toSet
    finally files.close()
  }

  // Result values are observations on the pipeline's own writes: the
  // time limit interrupts a run waiting on an observation that never
  // arrives, so it fails instead of hanging the suite.
  private implicit val signaler: Signaler = ThreadSignaler

  test("full batch pipeline: load -> enrich -> store -> summarize -> validate") {
    val root = Files.createTempDirectory("graft-pipeline").toString
    // 2 hours of readings, one batch per 20 virtual minutes
    WeatherGenerator.writeBatches(s"$root/raw",
      LocalDateTime.of(2026, 8, 12, 10, 0), batches = 6, intervalSeconds = 1200, seed = 42)

    def summary() = spark.read.parquet(s"$root/summary").collect().map(_.toString).sorted.toSeq
    failAfter(4.minutes) {
      val r1 = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
      assert(r1.loadedRows == 30)      // 6 batches x 5 stations
      assert(r1.storedNew == 30)
      assert(r1.summaryRows == 5)      // one per city, single day
      assert(r1.validationPassed, r1.report)
      assert(r1.avgQuality == 100.0)   // generator ranges are all in-bounds
      val (summaryBefore, filesBefore) = (summary(), dataFiles(s"$root/store"))

      // a retry after success on the same raw data: idempotent (no new
      // rows, no new store file, same summary) and still PASSED
      val r2 = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
      assert(r2.loadedRows == 30 && r2.storedNew == 0 && r2.summaryRows == 5)
      assert(r2.avgQuality == r1.avgQuality)
      assert(r2.validationPassed, r2.report)
      assert(r2.report.contains("cities=5"), r2.report)
      assert(summary() == summaryBefore)
      assert(dataFiles(s"$root/store") == filesBefore)
      assert(spark.read.parquet(s"$root/store").count() == 30)
    }
  }

  test("batch pipeline on envelopes with no readings fails validation without throwing") {
    val root = Files.createTempDirectory("graft-pipeline-empty").toString
    writeEmptyEnvelope(s"$root/raw")

    val r = failAfter(2.minutes)(BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary"))
    assert(r.loadedRows == 0 && r.storedNew == 0 && r.summaryRows == 0)
    assert(!r.validationPassed, r.report)
    assert(r.report.contains("validation=FAILED"))
  }

  test("batch pipeline after a no-readings run stores every row of the next run") {
    val root = Files.createTempDirectory("graft-pipeline-empty-first").toString
    writeEmptyEnvelope(s"$root/raw")
    failAfter(4.minutes) {
      val empty = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
      assert(empty.storedNew == 0)
      // the empty first append leaves a store directory without data files
      assert(Files.isDirectory(Paths.get(root, "store")) && dataFiles(s"$root/store").isEmpty)

      WeatherGenerator.writeBatches(s"$root/raw",
        LocalDateTime.of(2026, 8, 12, 10, 0), batches = 6, intervalSeconds = 1200, seed = 42)
      val r = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
      assert(r.loadedRows == 30 && r.storedNew == 30 && r.summaryRows == 5)
      assert(r.validationPassed, r.report)
      assert(spark.read.parquet(s"$root/store").count() == 30)
    }
  }

  test("batch pipeline: one store execution per append, no listing job over > 32 hour directories") {
    val root = Files.createTempDirectory("graft-pipeline-pass").toString
    // 36 hourly batches: 36 hour directories, above Spark's parallel
    // listing threshold of 32 paths
    WeatherGenerator.writeBatches(s"$root/raw",
      LocalDateTime.of(2026, 8, 12, 10, 0), batches = 36, intervalSeconds = 3600, seed = 7)
    val appendExecutions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      // a root execution whose first engine frame is appendIfAbsent
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          val site = s.details.split("\n").map(_.trim).find(_.startsWith("graft."))
          if (site.exists(_.startsWith("graft.sources.PartitionedStore$.appendIfAbsent(")))
            appendExecutions.incrementAndGet()
        case _ =>
      }
    }
    // a cluster session's listing threshold (Spark's default of 32 roots):
    // a local session lists any number of roots on the driver, which would
    // hide a read that lists each hour directory as a root
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val local = spark.conf.get(threshold)
    spark.conf.set(threshold, "32")
    spark.sparkContext.addSparkListener(listener)
    try failAfter(4.minutes) {
      val listingJobs = listingJobsDuring {
        // the first write, then a replay against the existing store
        val load = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
        val replay = BatchPipeline.run(spark, s"$root/raw", s"$root/store", s"$root/summary")
        assert(load.storedNew == 180 && replay.storedNew == 0)
      }
      // (root executions in appendIfAbsent, listing jobs): one per call, none
      assert((appendExecutions.get, listingJobs) == ((2, 0)))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(threshold, local)
    }
  }

  test("corpus pipeline: clean -> dedup -> decontaminate -> split -> pack, deterministic") {
    import graft.pipeline.CorpusPipeline
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // eval set = copies of three corpus docs (planted contamination: any of
    // those docs surviving dedup MUST then be dropped at stage 4)
    val eval = docs.where(col("doc_id").isin(5L, 17L, 42L))
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val stages = Seq(
      "too_short" -> (col("n_chars") >= 60),
      "low_alpha" -> (Text.tokenCount(col("text")) >= 10))

    val (corpus, r) = CorpusPipeline.run(docs, eval, "doc_id", "text", stages)
    // stage counts: monotone funnel, everything attributable
    assert(r.input == 500)
    assert(r.cleaned <= r.input && r.afterExactDedup <= r.cleaned)
    assert(r.afterNearDedup <= r.afterExactDedup && r.corpus <= r.afterNearDedup)
    assert(r.contaminated == r.afterNearDedup - r.corpus)
    assert(r.corpus > 100, s"implausibly few survivors: ${r.corpus}")
    assert(r.splitCounts.values.sum == r.corpus)
    assert(r.trainSequences > 0)

    // planted eval twins are gone (whichever of 5/17/42 survived dedup)
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(17L) && !ids.contains(42L))
    // no exact-normalized duplicates survive
    val dupGroups = corpus
      .groupBy(Text.normalizeForDedup(col("text"))).count()
      .where(col("count") > 1).count()
    assert(dupGroups == 0)
    // decontamination is exhaustive, verified with the EXACT operator
    val residual = graft.operators.Dedup.crossSetContamination(
      eval, corpus, "doc_id", "text", n = 3)
      .where(col("contamination") >= 0.5).count()
    assert(residual == 0)
    // near-dedup is exhaustive under its own detector: re-running the
    // pipeline's detector at the pipeline's parameters over the OUTPUT
    // finds nothing (components dropped every non-representative, and the
    // detector is deterministic on content, so output pairs ⊆ input pairs)
    val nearResidual = graft.operators.Dedup.minhashNearDupPairs(
      corpus, "doc_id", "text", n = 3, numHashes = 16, bands = 4,
      threshold = 0.5).count()
    assert(nearResidual == 0)

    // determinism: a repartitioned input yields the identical corpus+splits
    val (corpus2, r2) = CorpusPipeline.run(docs.repartition(13), eval, "doc_id", "text", stages)
    assert(r2 == r.copy(splitCounts = r2.splitCounts) && r2.splitCounts == r.splitCounts)
    val s1 = corpus.select("doc_id", "split").collect().map(x => (x.getLong(0), x.getString(1))).toSet
    val s2 = corpus2.select("doc_id", "split").collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(s1 == s2)
  }

  test("streaming admission capstone: ingest-time screens + incremental " +
    "near-dedup replay to the SAME corpus as CorpusPipeline.run") {
    // The composed streaming twin of the batch capstone: the corpus
    // arrives as micro-batches (ascending doc_id — first-arrival-wins
    // exact dedup equals keepFirst's min-id keeper ONLY under ordered
    // arrival, which is the replay contract) and each batch runs the
    // SAME stage chain the batch pipeline runs, against persistent
    // stores: funnel -> insert-time exact dedup (appendIfAbsent on the
    // normalized digest) -> incremental minhash candidates (signature
    // store + append-only pair log) -> static-eval fixpoint span cut ->
    // bloom-screened contamination drop -> hash split -> admitted log.
    // Near-dup drop is the one decision that NEEDS the full pair log (a
    // doc's partner may arrive later; the keeper is the component
    // minimum), so it applies at reconcile time over the accumulated
    // candidates — exactly the daily-reconcile shape of a production
    // ingest pipeline. End state must equal the batch run byte-for-byte.
    import graft.functions.Text
    import graft.operators.{Cleaning, Components, Dedup, Sampling}
    import graft.expressions.BloomExprs
    import graft.pipeline.CorpusPipeline
    import graft.streaming.IncrementalDedup
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-stream-capstone").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = docs.where(col("doc_id").isin(5L, 17L, 42L))
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .localCheckpoint()
    val stages = Seq(
      "too_short" -> (col("n_chars") >= 60),
      "low_alpha" -> (Text.tokenCount(col("text")) >= 10))
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val W = 12 // eval-cut window (the q75/q76 regime)

    // ---- the batch truth ----
    val (batchCorpus, _) = CorpusPipeline.run(docs, eval, "doc_id", "text",
      stages, evalCutWindow = Some(W))

    // ---- static eval-side artifacts, computed once for the stream ----
    val evalHashes = Dedup.evalSpanHashes(eval, "doc_id", "text", W)
      .localCheckpoint()
    val evalShingles = Dedup.hashedShingles(eval, "doc_id", "text", n = 3)
      .localCheckpoint()
    val mBits = BloomExprs.bitsForFpp(
      evalShingles.select("h").distinct().count(), 0.03)
    val words = BloomExprs.buildBitmap(evalShingles, "h", mBits)

    // ---- replay: seeded random batch boundaries, ascending id order ----
    val all = docs.orderBy("doc_id").collect()
    val rnd = new scala.util.Random(7)
    val bounds = (0 until all.length).filter(_ => rnd.nextDouble() < 0.01)
    val batches = (Seq(0) ++ bounds ++ Seq(all.length)).distinct.sorted
      .sliding(2).map { case Seq(a, b) => all.slice(a, b) }
      .filter(_.nonEmpty).toSeq
    val exactStore = s"$root/exact"
    val sigStore = s"$root/sigs"
    val candLog = s"$root/cands"
    val admittedLog = s"$root/admitted"
    batches.zipWithIndex.foreach { case (rows, i) =>
      val batch = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2), docs.schema)
      val cleaned = Cleaning.survivors(batch, stages)
      // insert-time exact dedup: key = normalized digest; payload order
      // (doc_id first) makes appendIfAbsent's within-batch winner the
      // smallest id — together with ordered arrival, ≡ batch keepFirst
      graft.sources.PartitionedStore.appendIfAbsent(spark,
        cleaned.select(md5(Text.normalizeForDedup(col("text"))).as("norm_md5"),
          col("doc_id"), col("text")),
        exactStore, keys = Seq("norm_md5"), partitionCols = Seq.empty)
      val admitted = spark.read.parquet(exactStore)
        .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "text").localCheckpoint()
      // near-dup candidates vs the corpus-so-far, on the UNCUT text (the
      // batch pipeline near-dedups BEFORE its eval cut): signature store
      // + append-only candidate log
      IncrementalDedup.step(admitted, "doc_id", "text", sigStore, s"b$i")
        .write.mode("append").parquet(candLog)
      // ingest-time surgical decontamination (fixpoint vs the static eval
      // hash set); the stage's casualty rule: a doc the cut EMPTIES drops,
      // a doc that arrived empty passes through
      val cut = Dedup.cutEvalFixpointFromHashes(admitted, evalHashes,
        "doc_id", "text", W, maxRounds = 3)
      val kept = cut
        .join(admitted.select(col("doc_id"), col("text").as("__orig")), Seq("doc_id"))
        .where(col("text") =!= "" || col("__orig") === "").drop("__orig")
      // contamination drop screen on the CUT text, same bitmap + exact
      // scorer chain as the batch stage 4
      val flagged = kept.where(Dedup.bloomScreen(col("text"), 3, words, mBits))
      val dirty = Dedup.contaminationFromHashed(evalShingles, evalShingles,
          Dedup.hashedShingles(flagged, "doc_id", "text", n = 3), Int.MaxValue)
        .where(col("contamination") >= 0.5)
        .select(col("test_id").as("doc_id"))
      kept.join(dirty, Seq("doc_id"), "left_anti")
        .withColumn("split", Sampling.splitColumn(col("doc_id"), splits))
        .write.mode("append").parquet(admittedLog)
    }

    // ---- reconcile: the keeper rule over the ACCUMULATED pair log ----
    // (union of per-batch candidates ≡ one full-corpus LSH run — the
    // StatefulOpsSpec invariance; verified pairs and components are then
    // the batch pipeline's own decision code on equal input)
    val exactDocs = spark.read.parquet(exactStore).select("doc_id", "text")
    val pairs = Dedup.jaccardVerify(
      spark.read.parquet(candLog).select("id_a", "id_b").distinct(),
      exactDocs, "doc_id", "text", n = 3, threshold = 0.5)
    val losers = Components.dedupGroups(pairs)
      .where(!col("is_keeper")).select(col("id").as("doc_id"))
    val streamed = spark.read.parquet(admittedLog)
      .join(losers, Seq("doc_id"), "left_anti")

    // ---- byte-for-byte end-state parity ----
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "split", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val b = key(batchCorpus)
    val s = key(streamed)
    assert(b.nonEmpty, "degenerate fixture: batch corpus is empty")
    assert(s == b,
      s"streamed admission diverged: ${(s -- b).size} extra, ${(b -- s).size} missing")
  }

  test("corpus pipeline quality-aware representative keeps the best near-dup, not the smallest id") {
    import graft.pipeline.CorpusPipeline
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val noEval = docs.limit(0).select(col("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    // score = text length: within each near-dup group the LONGEST doc wins
    val (corpus, r) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages,
      nearDupRepScore = Some(length(col("text")).cast("double")))
    val (corpusMin, rMin) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    // same funnel counts — the policy changes WHICH member survives, not how many
    assert(r.afterNearDedup == rMin.afterNearDedup && r.corpus == rMin.corpus)
    val kept = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val keptMin = corpusMin.select("doc_id").collect().map(_.getLong(0)).toSet
    // every survivor under the quality policy is at least as long as the
    // min-id group-mate it displaced (checked via the exact pair pipeline)
    val lens = docs.select(col("doc_id"), length(col("text")).as("n"))
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val displaced = keptMin -- kept
    val gained = kept -- keptMin
    assert(displaced.size == gained.size)
    if (displaced.nonEmpty)
      assert(gained.map(lens).sum >= displaced.map(lens).sum)
  }

  test("corpus pipeline optional stages: semantic dedup, sentence chunks, release emit") {
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("too_short" -> (col("n_chars") >= 60))
    val out = java.nio.file.Files.createTempDirectory("graft-release").toString + "/r"

    def run(d: org.apache.spark.sql.DataFrame, path: String) =
      CorpusPipeline.run(d, noEval, "doc_id", "text", stages,
        embeddings = Some(emb), sentenceChunkTokens = Some(32),
        emitPath = Some(path))
    val (corpus, r) = run(docs, out)
    // the semantic stage slots into the monotone funnel
    assert(r.afterSemanticDedup <= r.afterNearDedup && r.corpus <= r.afterSemanticDedup)
    assert(r.contaminated == r.afterSemanticDedup - r.corpus)
    // every corpus doc contributes at least one sentence-chunk row
    assert(r.sentenceChunks >= r.corpus && r.corpus > 0)
    // the emitted release matches the pipeline's own census
    assert(r.emittedShards == 4)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_manifest.json")))
    assert(manifest.contains(s""""total_rows":${r.corpus}"""))
    val card = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_datacard.json")))
    assert(card.contains(s""""n_docs":${r.corpus}"""))
    // the semantic stage's drops are real co-bucketed near-dups: every
    // dropped id had a surviving partner at cosine ≥ threshold (losers
    // point at keepers by construction; spot-check the census adds up)
    assert(r.splitCounts.values.sum == r.corpus)
    // determinism incl. the new stages
    val (_, r3) = run(docs.repartition(13), out)
    assert(r3 == r)
  }

  test("corpus pipeline line-dedup, de-stutter and stratified-split stages") {
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // bodies unique; every doc wrapped in 2 chrome lines (>= minDocs=5
    // docs each); doc 41 stutters internally; doc 42 is chrome-only
    val docs = ((1L to 40L).map { i =>
      val body = s"body token stream number $i alpha beta gamma delta epsilon"
      (i, s"cookie banner\n$body\nfooter line", if (i % 2 == 0) "en" else "de")
    } :+ ((41L, "cookie banner\nx y z x y z x y z unique tail words here\nfooter line", "de"))
      :+ ((42L, "cookie banner\nfooter line", "en")))
      .toDF("doc_id", "text", "stratum")
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("keep_all" -> lit(true))
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.run(d, noEval, "doc_id", "text", stages,
        lineDedupMinDocs = Some(5L), selfRepeatWindow = Some(3),
        stratifyBy = Some("stratum"))
    val (corpus, r) = run(docs)
    // 1b: every doc had chrome cut; the chrome-only doc empties and drops
    assert(r.lineEditedDocs == 42 && r.afterLineDedup == 41)
    assert(r.afterExactDedup == 41)                    // bodies unique
    // 2a: only the stutter doc is edited; the first copy survives
    assert(r.selfRepeatEditedDocs == 1 && r.afterSelfRepeatCut == 41)
    val texts = corpus.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(texts(41L) == "x y z unique tail words here")
    assert(!texts.values.exists(t => t.contains("cookie banner") || t.contains("footer line")))
    assert(texts(1L) == "body token stream number 1 alpha beta gamma delta epsilon")
    // 5: stratified split — exact cumulative-floor quotas per stratum
    // (default 8/1/1 weights -> val first ⌊10%⌋ ranks, test next to ⌊20%⌋)
    val sizes = corpus.groupBy("stratum", "split").count().collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val en = 20L; val de = 21L // evens minus dropped 42; odds incl. 41
    assert(sizes.getOrElse(("en", "val"), 0L) == en * 10 / 100)
    assert(sizes.getOrElse(("en", "test"), 0L) == en * 20 / 100 - en * 10 / 100)
    assert(sizes.getOrElse(("de", "val"), 0L) == de * 10 / 100)
    assert(sizes.getOrElse(("de", "test"), 0L) == de * 20 / 100 - de * 10 / 100)
    assert(sizes.values.sum == r.corpus && r.corpus == 41)
    // determinism incl. the new stages
    val (corpus2, r2) = run(docs.repartition(13))
    assert(r2 == r)
    assert(corpus2.select("doc_id", "split").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet ==
      corpus.select("doc_id", "split").collect()
        .map(x => (x.getLong(0), x.getString(1))).toSet)
  }

  test("corpus pipeline span-cut stage removes planted boilerplate before near-dedup") {
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("n_chars") >= 60)
    // plant the SAME 20-token header on every even doc — the license/chat-
    // template class: cross-doc duplicated spans inside otherwise-distinct
    // documents
    val header = (0 until 20).map(i => s"boiler$i").mkString(" ")
    val docs = base.withColumn("text",
      when(col("doc_id") % 2 === 0, concat(lit(header + " "), col("text")))
        .otherwise(col("text")))
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("too_short" -> (col("n_chars") >= 60))
    val (corpus, r) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages,
      spanCutWindow = Some(20))
    // every planted doc was edited; the funnel stays monotone through 2b
    assert(r.spanEditedDocs >= docs.where(col("doc_id") % 2 === 0).count())
    assert(r.afterSpanCut <= r.afterExactDedup && r.afterNearDedup <= r.afterSpanCut)
    // no surviving text carries the boilerplate
    assert(corpus.where(col("text").contains("boiler0")).count() == 0)
    // deterministic incl. the new stage
    val (_, r2) = CorpusPipeline.run(docs.repartition(13), noEval, "doc_id", "text",
      stages, spanCutWindow = Some(20))
    assert(r2 == r)
  }

  test("corpus pipeline surgical decontamination keeps docs the drop screen would lose") {
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("n_chars") >= 60)
    // eval set: 5 synthetic benchmark items; every third train doc QUOTES
    // one of them verbatim (prepended), heavily enough that the whole-doc
    // screen at threshold 0.15 would drop the doc
    import spark.implicits._
    val evalTexts = (0 until 5).map(i =>
      (9000L + i, (0 until 16).map(j => s"bench${i}tok$j").mkString(" ")))
    val eval = evalTexts.toSeq.toDF("doc_id", "text")
    val docs = base.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(element_at(typedLit(evalTexts.map(_._2)),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int")), lit(" "), col("text")))
        .otherwise(col("text")))
    val stages = Seq("too_short" -> (col("n_chars") >= 60))
    val (withoutCut, r0) = CorpusPipeline.run(docs, eval, "doc_id", "text", stages,
      contaminationThreshold = 0.15)
    val (withCut, r1) = CorpusPipeline.run(docs, eval, "doc_id", "text", stages,
      contaminationThreshold = 0.15, evalCutWindow = Some(16))
    // the quoting docs were edited, their quoted passages are gone, and
    // the corpus keeps docs the drop-only run lost
    assert(r1.evalCutDocs > 0)
    assert(withCut.where(col("text").contains("bench0tok0")).count() == 0)
    assert(r1.corpus > r0.corpus,
      s"cut run must keep quoting docs (kept ${r1.corpus} vs ${r0.corpus})")
    assert(r1.contaminated < r0.contaminated)
    // determinism under repartitioning, new stage included
    val (_, r2) = CorpusPipeline.run(docs.repartition(13), eval, "doc_id", "text",
      stages, contaminationThreshold = 0.15, evalCutWindow = Some(16))
    assert(r2 == r1)
  }

  test("corpus pipeline degenerate inputs: empty eval set and empty corpus") {
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stages = Seq("too_short" -> (col("n_chars") >= 60))
    // empty eval set: nothing can be contaminated; pipeline runs clean
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val (_, r1) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    assert(r1.contaminated == 0 && r1.corpus == r1.afterNearDedup)
    // empty corpus: every count zero, no crash anywhere in the chain
    val noDocs = docs.where(lit(false))
    val (empty, r2) = CorpusPipeline.run(noDocs, noEval, "doc_id", "text", stages)
    assert(r2.input == 0 && r2.corpus == 0 && r2.trainSequences == 0)
    assert(empty.count() == 0)
  }

  test("corpus pipeline markup-strip, token-budget and JSONL-emit stages") {
    import graft.pipeline.CorpusPipeline
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // crawl-shaped input: every document arrives wrapped in markup — the
    // quality funnel must judge the EXTRACTED text
    val docs = raw.withColumn("text", concat(lit("<html><body><p>"),
      col("text"), lit("</p><!-- chrome --></body></html>")))
    // planted contamination: eval items are raw (unwrapped) corpus texts —
    // they only match AFTER the strip restores the clean text
    val eval = raw.where(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val jsonl = Files.createTempDirectory("graft-jsonl-rel").toString
    val (corpus, rep) = CorpusPipeline.run(docs, eval, "doc_id", "text",
      stages = Seq("minlen" -> (Text.tokenCount(col("text")) >= 5)),
      stripMarkupFirst = true,
      tokenBudgetDocs = Some(120L), budgetSeed = 3L,
      emitJsonlPath = Some(jsonl))
    assert(rep.markupEditedDocs == rep.input) // every doc was wrapped
    // the planted eval twins survive dedup as clean text and are screened
    assert(rep.contaminated > 0)
    // budget drops are attributed to the budget stage, NOT contamination:
    // screen survivors = afterEvalCut - contaminated; budget samples within
    val screenSurvivors = rep.afterEvalCut - rep.contaminated
    assert(rep.afterBudget > 0 && rep.afterBudget <= screenSurvivors)
    assert(rep.corpus == rep.afterBudget) // split assignment drops nothing
    // JSONL release loads back to exactly the emitted corpus
    val back = spark.read.schema("doc_id LONG, split STRING, text STRING")
      .json(jsonl).select("doc_id", "split", "text")
    val c = corpus.select("doc_id", "split", "text")
    assert(back.count() == rep.corpus)
    assert(back.exceptAll(c).isEmpty && c.exceptAll(back).isEmpty)
  }

  test("corpus pipeline LM fluency band: the stage IS pplBandFilter over the screened corpus") {
    import graft.pipeline.CorpusPipeline
    import graft.operators.NgramLm
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    // baseline: no LM stage — its corpus is exactly the screened set the
    // LM stage trains on and filters
    val (base, r0) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    // LM band [0, 0.8): drop the worst-perplexity fifth
    val (kept, r1) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages,
      lmBandKeep = Some((0.0, 0.8)))
    assert(r1.afterLmFilter == math.floor(0.8 * r0.corpus).toLong)
    assert(r1.lmFiltered == r0.corpus - r1.afterLmFilter)
    assert(r1.corpus == r1.afterLmFilter)
    // with an empty eval set the LM drops must not read as contamination
    assert(r1.contaminated == 0)
    // stage ≡ operator: the kept ids are pplBandFilter's over the
    // baseline corpus with the same self-trained model
    val screened = base.select("doc_id", "text")
    val sc = NgramLm.scoreTokens(screened,
      NgramLm.lmCounts(screened, "text", n = 3, minCount = 2L),
      NgramLm.lmTotals(screened, "text"), "doc_id", "text")
    val direct = NgramLm.pplBandFilter(screened, sc, "doc_id", 0.0, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == direct)
  }

  test("corpus pipeline integer fluency screen: the stage IS the backoff-census " +
    "cross-multiplication over the screened corpus, deterministic on any partitioning") {
    import graft.pipeline.CorpusPipeline
    import graft.operators.NgramLm
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    val (base, r0) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    val (kept, r1) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages,
      fluencyMin = Some(49 -> 50))
    // stage ≡ operator: kept ids are exactly the census rows with
    // 50·(o3+o2) ≥ 49·scored_tokens under the self-trained trigram model
    val screened = base.select("doc_id", "text")
    val cen = NgramLm.backoffCensus(NgramLm.scoreTokens(screened,
      NgramLm.lmCounts(screened, "text", n = 3, minCount = 2L),
      NgramLm.lmTotals(screened, "text"), "doc_id", "text"))
    val direct = cen
      .where((col("o3") + col("o2")) * lit(50L) >= lit(49L) * col("scored_tokens"))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == direct)
    // drops are live here (no Gopher funnel ahead of it in this config)
    // and attributed to the fluency row, never to contamination
    assert(r1.fluencyFiltered == r0.corpus - direct.size && r1.fluencyFiltered > 0)
    assert(r1.afterFluency == direct.size.toLong && r1.corpus == direct.size.toLong)
    assert(r1.contaminated == 0)
    val (kept2, r2) = CorpusPipeline.run(docs.repartition(13), noEval, "doc_id",
      "text", stages, fluencyMin = Some(49 -> 50))
    assert(kept2.select("doc_id").collect().map(_.getLong(0)).toSet == got)
    assert(r2.fluencyFiltered == r1.fluencyFiltered)
  }

  test("corpus pipeline banded-sampling stage (4a''): run-with-bandRates " +
    "equals the census→band→rate operator composition over the " +
    "run-without's corpus, per source") {
    import graft.pipeline.CorpusPipeline
    import graft.operators.{CorpusStats, NgramLm, Sampling}
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val noEval = docs.where(lit(false)).select(col("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    val rates = Map("head" -> ((9, 10)), "middle" -> ((1, 2)),
      "tail" -> ((1, 10)))
    val (base, r0) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    val (kept, r1) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages,
      bandRates = Some(rates), bandGroupCol = Some("source"))
    // stage ≡ operators composed: census permille over the self-trained
    // trigram model on the run-without corpus (the stage's own input
    // set), per-source tercile banding, per-band rate draw
    val screened = base.select("doc_id", "text")
    val cen = NgramLm.backoffCensus(NgramLm.scoreTokens(screened,
      NgramLm.lmCounts(screened, "text", n = 3, minCount = 2L),
      NgramLm.lmTotals(screened, "text"), "doc_id", "text"))
    val pm = cen.select(col("id").as("doc_id"),
        expr("((o3 + o2) * 1000) div scored_tokens").as("fluency_pm"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val banded = CorpusStats.bandByGroupQuantiles(pm, "source", "fluency_pm",
      Seq(("p33", 1, 3), ("p66", 2, 3)), Seq("tail", "middle", "head"))
    val direct = Sampling.hashSampleByGroup(banded, "band", "doc_id", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == direct)
    // drops are attributed to the band-rate row, never to contamination
    assert(r1.bandRateFiltered == r0.corpus - direct.size && r1.bandRateFiltered > 0)
    assert(r1.afterBandRate == direct.size.toLong && r1.corpus == direct.size.toLong)
    assert(r1.contaminated == 0)
    // the seeded draw is domain-separated from the split hash, so the
    // admitted pool spans splits (the unsalted form could starve val/test
    // whenever a draw denominator shared factors with the split modulus —
    // the cap_banded disk-probe finding)
    assert(r1.splitCounts.keySet.size >= 2, s"split starvation: ${r1.splitCounts}")
    // the head-preferential draw is live: every band contributes, and the
    // admitted set skews toward the head rate
    val byBand = Sampling.hashSampleByGroup(banded, "band", "doc_id", rates)
      .groupBy("band").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byBand.keySet == Set("head", "middle", "tail"))
    // determinism under repartitioning (the stage is hash-driven end to end)
    val (kept2, r2) = CorpusPipeline.run(docs.repartition(13), noEval,
      "doc_id", "text", stages, bandRates = Some(rates),
      bandGroupCol = Some("source"))
    assert(kept2.select("doc_id").collect().map(_.getLong(0)).toSet == got)
    assert(r2.bandRateFiltered == r1.bandRateFiltered)
  }

  test("staged deployment (parquet handoffs, the CCNet score-file shape) " +
    "equals the fused run: same Report fields, same corpus and splits") {
    // The StagedCapstone decomposition: each phase's output round-trips
    // through parquet (a separate job's handoff artifact) and the
    // admission job reads the PERSISTED lmf score file — the staged
    // decision set must equal the fused run's bit-for-bit, which is what
    // licenses quoting a staged 15M wall-clock against the fused row
    // (SCALE.md round 11).
    import graft.pipeline.CorpusPipeline
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // planted contamination (the stage-4 exercise): eval twins of 3 docs
    val eval = docs.where(col("doc_id").isin(5L, 17L, 42L))
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0),
      "min_tokens" -> (graft.functions.Text.tokenCount(col("text")) >= 10))
    val rates = Map("head" -> ((9, 10)), "middle" -> ((1, 2)),
      "tail" -> ((1, 10)))

    val (fusedCorpus, fr) = CorpusPipeline.run(docs, eval, "doc_id", "text",
      stages, fluencyMin = Some(49 -> 50), bandRates = Some(rates))

    val dir = java.nio.file.Files.createTempDirectory("graft-staged").toString
    // job 1: clean (funnel + exact dedup)
    val (cut, cc) = CorpusPipeline.phaseClean(docs, "doc_id", "text", stages)
    cut.write.parquet(s"$dir/pool_clean")
    // job 2: near-dedup
    val pool1 = spark.read.parquet(s"$dir/pool_clean")
    val (sem, nNear, nSem) =
      CorpusPipeline.phaseNearDedup(pool1, "doc_id", "text")
    sem.write.parquet(s"$dir/pool_near")
    // job 3: decontaminate + integer fluency screen
    val pool2 = spark.read.parquet(s"$dir/pool_near")
    val (screened, _, _) = CorpusPipeline.phaseDecontaminate(
      pool2, nSem, eval, "doc_id", "text")
    val (fluent, nPre, nFluent) = CorpusPipeline.phaseFluency(
      screened, "doc_id", "text", num = 49, den = 50)
    fluent.write.parquet(s"$dir/pool_fluent")
    // job 4: the lmf score file (self-trained model over the fluent pool)
    val pool3 = spark.read.parquet(s"$dir/pool_fluent")
    CorpusPipeline.fluencyScoreFile(pool3, "doc_id", "text")
      .write.parquet(s"$dir/lmf_scores")
    // job 5: banding + admission off the STORED scores, then finish
    val scores = spark.read.parquet(s"$dir/lmf_scores")
    val admitted = graft.operators.NgramLm.bandRateFromScores(scores, rates)
      .select(col("id").as("doc_id"))
    val kept = pool3.join(admitted, Seq("doc_id"), "leftsemi").localCheckpoint()
    val nKept = kept.count()
    val fin = CorpusPipeline.phaseFinish(kept, "doc_id", "text")

    // Report identity, field by field across the staged counts
    assert(cc.input == fr.input && cc.cleaned == fr.cleaned &&
      cc.afterExactDedup == fr.afterExactDedup)
    assert(nNear == fr.afterNearDedup)
    assert(fr.contaminated == nSem - nPre)
    assert(nPre - nFluent == fr.fluencyFiltered && nFluent == fr.afterFluency)
    assert(nFluent - nKept == fr.bandRateFiltered && nKept == fr.afterBandRate)
    assert(fin.corpusDocs == fr.corpus && fin.splitCounts == fr.splitCounts &&
      fin.trainSequences == fr.trainSequences)
    // and the corpus itself, down to (doc_id, split)
    val f = fusedCorpus.select("doc_id", "split").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    val s = fin.corpus.select("doc_id", "split").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(f == s)
    assert(fr.bandRateFiltered > 0, "band draw must be live for the parity to mean anything")
  }

  test("trainingStream: release + epoch-ordered train order ship together") {
    import graft.pipeline.CorpusPipeline
    import graft.operators.Sampling
    import graft.functions.Text
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val noEval = docs.limit(0).select(col("doc_id"), col("text"))
    val stages = Seq("nonempty" -> (length(col("text")) > 0))
    val (corpus, _) = CorpusPipeline.run(docs, noEval, "doc_id", "text", stages)
    // keep `source` for grouping (run() preserves non-text columns)
    assert(corpus.columns.contains("source"))
    val stream = CorpusPipeline.trainingStream(corpus, "doc_id", "text",
      "source", budgetTokens = 100000L, maxEpochs = 4, seed = 7L)
    val rows = stream.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // only train-split docs appear
    val trainIds = corpus.where(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet.subsetOf(trainIds))
    // per-source token accounting matches the plan: emitted tokens land in
    // [planned, planned + max doc) — the budget crossed at most once
    val plan = Sampling.epochPlan(corpus.where(col("split") === "train"),
        "source", Text.tokenCount(col("text")), 100000L, 4)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val maxDoc = corpus.where(col("split") === "train")
      .groupBy("source").agg(max(Text.tokenCount(col("text"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val emitted = rs.map(_._4).sum
      assert(emitted >= plan(src) && emitted < plan(src) + maxDoc(src) + 1,
        s"source $src emitted $emitted planned ${plan(src)}")
    }
  }

  test("capstone funnel attribution (q136) reconciles with the capstone census (q127)") {
    val sf = "/root/testdata/sf0.001"
    val attr = SparkEntry.queries("q136_funnel_attribution")(spark, sf)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val census = SparkEntry.queries("q127_pipeline_capstone")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // first-failure attribution: every pool doc charged exactly once
    assert(attr.values.sum == census("input"),
      s"attribution ${attr.values.sum} != pool ${census("input")}")
    // the funnel's survivors ARE the capstone's cleaned frame
    assert(attr("pass") == census("cleaned"),
      s"pass ${attr("pass")} != cleaned ${census("cleaned")}")
    // attribution rows only for stages that dropped something
    assert(attr.collect { case (k, v) if k != "pass" => v }.forall(_ > 0))
  }
}

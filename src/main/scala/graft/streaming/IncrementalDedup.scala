package graft.streaming

import graft.operators.{Cleaning, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming incremental near-dedup — the ingest-time form of the daily
 * batch job, sharing ONE code path with it: every micro-batch computes its
 * minhash signatures, generates candidates against the persisted signature
 * STORE via [[Dedup.incrementalLshCandidates]] (old×old buckets never
 * expand — the |new|-shaped work guarantee), then writes its signatures
 * to the store. A daily batch job calls [[step]] directly with the day's
 * documents; the streaming loop calls the same function per micro-batch
 * through `foreachBatch` — so batch and streaming ingestion cannot drift
 * apart in dedup semantics.
 *
 * The store is a parquet signature table (id + numHashes columns,
 * corpus-cardinality — signatures, never documents) PARTITIONED BY the
 * caller's `batchTag`, written with dynamic partition overwrite. That
 * makes every step REPLAY-IDEMPOTENT — `foreachBatch` retries a failed
 * micro-batch, and a plain append would duplicate its store rows forever —
 * and replay-EXACT: the old side excludes the current tag's partition, so
 * a re-run computes against exactly the store state the first attempt saw.
 * The tag must uniquely identify the ingestion batch (the date for a daily
 * job, the streaming batchId) — reusing a tag overwrites that batch's rows
 * by design. State is therefore OUTSIDE the streaming state store:
 * signatures survive restarts, are shared with batch jobs, and are
 * queryable.
 *
 * Output per batch: the distinct candidate pairs with ≥1 side in the
 * batch (verify with exact Jaccard downstream, exactly like q39). Unioned
 * over all batches, the candidates equal one full-corpus LSH run — the
 * equivalence StatefulOpsSpec pins.
 */
object IncrementalDedup {

  private def fsExists(df: DataFrame, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Idempotent tagged write (every store, and [[attach]]'s log): the
    * batch's rows land in (at least) the `batch=<tag>` partition,
    * REPLACING any prior attempt's rows there (dynamic overwrite touches
    * only the partitions present in the data — other batches' partitions
    * are untouched). */
  private def writeTagged(rows: DataFrame, tag: String, path: String,
                          partitionCols: String*): Unit =
    rows.withColumn("batch", org.apache.spark.sql.functions.lit(tag))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch" +: partitionCols: _*)
      .parquet(path)

  /** The store rows a pruned step can match: the cells `fresh` touches
    * (its distinct `cells` values, driver-collected: bounded by the cell
    * count) minus this tag's own partition, so a replay matches what its
    * first attempt saw. An OR-chain of partition-column equalities prunes
    * the other cells at the file listing. None while the store is absent
    * or the batch touches no cell. */
  private def touchedCells(fresh: DataFrame, storePath: String, batchTag: String,
                           cells: String*): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val touched = fresh.select(cells.map(col): _*).distinct().collect()
    if (touched.isEmpty || !fsExists(fresh, storePath)) None
    else Some(fresh.sparkSession.read.parquet(storePath).where(touched.map(r =>
        cells.indices.map(i => col(cells(i)) === lit(r.get(i))).reduce(_ && _))
      .reduce(_ || _) && col("batch") =!= lit(batchTag)))
  }

  /**
   * One ingestion step: candidates for `batch` against (store ∪ batch),
   * then the batch's signatures written to the store under `batchTag`.
   * Returns the candidate pairs. Bootstraps an absent store as empty.
   * Re-running the same tag (a `foreachBatch` replay) returns the same
   * candidates and leaves the store unchanged.
   */
  def step(batch: DataFrame, idCol: String, textCol: String, storePath: String,
           batchTag: String, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
           maxBucket: Int = 10000): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // two consumers (candidate generation + store write): eager checkpoint
    val newSigs = Dedup.minhashSignatures(batch, idCol, textCol, n, numHashes)
      .localCheckpoint()
    val oldSigs =
      if (fsExists(batch, storePath))
        batch.sparkSession.read.parquet(storePath)
          .where(col("batch") =!= lit(batchTag)) // replay: skip own partition
          .drop("batch")
      else newSigs.limit(0)
    val cands = Dedup.incrementalLshCandidates(newSigs, oldSigs, numHashes, bands,
      maxBucket).localCheckpoint() // materialize BEFORE the store gains the batch
    writeTagged(newSigs, batchTag, storePath)
    cands
  }

  /**
   * [[step]] with a BAND-LAYOUT store — the 100 TB shape the plain-store
   * operator note promises. Instead of signature rows, the store persists
   * the exploded (id, band, sig) band keys PARTITIONED BY (band, pfx)
   * where pfx = hash(sig) mod `pfxMod`: a micro-batch touches only the
   * (band, pfx) cells its own band keys hash into, so the store scan
   * prunes every untouched partition at the FILE LISTING — the per-batch
   * read is |touched partitions|-shaped, not |corpus|-shaped. (The plain
   * [[step]] always scans the whole signature store; its broadcast
   * semi-join drops rows only after reading them.)
   *
   * Candidates are identical to [[step]]'s by construction (pruning by
   * (band, pfx) is lossless: a stored row matters only if a new row
   * shares its exact (band, sig), which pins the same pfx) — the
   * equivalence is spec-pinned. Store maintenance: per-tag writes
   * accumulate small files per (band, pfx) cell; Layout.compact per leaf
   * partition is the maintenance op.
   */
  def stepBandStore(batch: DataFrame, idCol: String, textCol: String,
                    storePath: String, batchTag: String, n: Int = 3,
                    numHashes: Int = 16, bands: Int = 4, maxBucket: Int = 10000,
                    pfxMod: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    val newBands = Dedup.explodedBandKeys(
        Dedup.minhashSignatures(batch, idCol, textCol, n, numHashes), numHashes, bands)
      .withColumn("pfx", pmod(graft.functions.Hashing.stableHash60(col("sig")), lit(pfxMod)))
      .localCheckpoint() // consumed by touched-cells, candidates AND the write
    val old = touchedCells(newBands, storePath, batchTag, "band", "pfx")
      .getOrElse(newBands.limit(0)).select("id", "band", "sig")
    val cands = Dedup.incrementalLshCandidatesFromBands(
      newBands.select("id", "band", "sig"), old, maxBucket)
      .localCheckpoint() // materialize BEFORE the store gains the batch
    writeTagged(newBands, batchTag, storePath, "band", "pfx")
    cands
  }

  /**
   * Ingest-time SPAN screen — the streaming twin of
   * [[Dedup.duplicatedSpanRanges]]: for each micro-batch document, the
   * merged token ranges covered by a window-passage already seen in
   * ANOTHER document (earlier batches via the span store, or this batch).
   * The "have I seen this boilerplate before" check a crawl pipeline runs
   * before admitting a page; downstream cleaners cut exactly these
   * ranges. Output covers the NEW docs only — that is the ingest
   * contract; a retroactive sweep over old docs is the batch operator's
   * job.
   *
   * Store: (id, pos, h) span rows partitioned by pfx = h mod `pfxMod`
   * (same pruning argument as [[stepBandStore]]: a stored span matters
   * only if a new span shares its exact h, which pins the pfx — the
   * per-batch store read prunes to the touched cells at the file
   * listing). Spec pins per-batch equality with the batch operator run
   * over the corpus-so-far, restricted to the batch's docs — and that
   * equality is exactly why replays must exclude the own-tag partition:
   * a batch must never match spans its own earlier attempt stored.
   */
  def stepSpans(batch: DataFrame, idCol: String, textCol: String,
                storePath: String, batchTag: String, window: Int,
                maxBucket: Int = 10000, pfxMod: Int = 64): DataFrame = {
    // named imports: the wildcard would shadow the `window` parameter
    // with functions.window
    import org.apache.spark.sql.functions.{array_distinct, col, explode,
      filter, lit, pmod, size, transform}
    import graft.expressions.BoundedCollectAgg
    val newSpans = Dedup.spanHashes(batch, idCol, textCol, window)
      .withColumn("pfx", pmod(col("h"), lit(pfxMod.toLong)))
      .localCheckpoint() // consumed by touched-cells, the mark AND the write
    val old = touchedCells(newSpans, storePath, batchTag, "pfx")
      .getOrElse(newSpans.limit(0)).select("id", "pos", "h")
    val marked = old.withColumn("is_new", lit(0))
      .unionByName(newSpans.select("id", "pos", "h").withColumn("is_new", lit(1)))
      .groupBy("h")
      // capped collection (empty past maxBucket) — the posting-list buffer
      // stays cap-bounded even for store-wide boilerplate spans
      .agg(BoundedCollectAgg.occsCapped(col("id"), col("pos"), col("is_new"),
        maxBucket).as("occs"))
      .where(size(array_distinct(transform(col("occs"), o => o.getField("id")))) >= 2)
      // emit the NEW side's positions only — old docs were ruled on when
      // they themselves arrived
      .select(explode(filter(col("occs"), o => o.getField("is_new") === 1)).as("o"))
      .select(col("o.id").as("id"), col("o.pos").as("pos"))
    val ranges = Dedup.mergeSpanRanges(marked, window)
      .localCheckpoint() // materialize BEFORE the store gains the batch
    writeTagged(newSpans, batchTag, storePath, "pfx")
    ranges
  }

  /**
   * Attach a per-batch screen to a streaming document source: `perBatch`
   * gets each micro-batch with its tag `b<batchId>` and returns the rows to
   * log, which land in `outPath` through [[writeTagged]] under that tag.
   * So the log is replay-exact like the stores: a micro-batch that Spark
   * re-runs after a crash (written, not yet committed) replaces its own
   * rows instead of appending them twice. A stateful step hands the tag to
   * its store ([[step]], [[stepSpans]], [[stepLines]]); a frozen screen
   * (the eval cut, the LM and fluency filters) ignores it, and its caller
   * checkpoints the static side once, before attaching.
   */
  def attach(docs: DataFrame, outPath: String, checkpointPath: String)(
      perBatch: (DataFrame, String) => DataFrame): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"b$batchId"
        writeTagged(perBatch(batch, tag), tag, outPath)
      }
      .start()

  /**
   * Ingest-time LINE-frequency screen — the streaming twin of
   * `Cleaning.dropFrequentLines` under the crawl-admission contract:
   * each arriving document has its chrome lines cut against the
   * frequency census over the corpus SO FAR (persisted line store ∪ this
   * batch); already-admitted documents are not re-edited when a line
   * later crosses the threshold (they were ruled on at arrival — the
   * batch operator over the full corpus is the retroactive form).
   *
   * Store: one row per DISTINCT (doc, line-hash) — presence, not
   * multiplicity, so within-doc repeats count their doc once, exactly
   * like the batch census — partitioned by (batch, pfx): the per-batch
   * dynamic overwrite makes replays idempotent, and the hash-prefix
   * cell lets a batch's touched-prefix set prune the store scan at the
   * file listing. Returns the batch with edited text (docs the cut
   * empties are the CALLER's drop decision, as in the pipeline stage).
   */
  def stepLines(batch: DataFrame, idCol: String, textCol: String,
                storePath: String, batchTag: String, sep: String,
                minDocs: Long, pfxMod: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, countDistinct, length, lit, pmod}
    // One tokenization per batch: the line stream (with positions) is
    // micro-batch-sized, so checkpointing it and deriving the store
    // write, the census AND the edit from it is the cheap side of the
    // staging rule. Empty lines are structure, not chrome — they never
    // enter the store or the census (the Cleaning.lineCensus rule).
    val lines = Cleaning.docLines(batch, idCol, textCol, sep)
      .localCheckpoint()
    val newLines = lines.where(length(col("line")) > 0)
      .select(col("id"), col("line_h")).distinct()
      .withColumn("pfx", pmod(col("line_h"), lit(pfxMod.toLong)))
      .localCheckpoint() // consumed by touched-cells, the census AND the write
    val old = touchedCells(newLines, storePath, batchTag, "pfx")
      // Census rows are only CONSUMED for hashes present in this batch
      // (the edit left-semi-joins the batch's lines against freq), so the
      // store read prunes to them: per-step cost tracks the batch's lines'
      // corpus frequency, not the accumulated store size (pfx cells
      // saturate at ~pfxMod distinct batch lines; this prune does not).
      .map(_.join(broadcast(newLines.select("line_h").distinct()), Seq("line_h"), "left_semi"))
      .getOrElse(newLines.limit(0)).select("id", "line_h")
    val freq = old.unionByName(newLines.select("id", "line_h"))
      .groupBy("line_h")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("line_h")
    val edited = Cleaning.cutLinesWith(batch, idCol, textCol, sep, lines, freq)
      .localCheckpoint() // materialize BEFORE the store gains the batch
    writeTagged(newLines, batchTag, storePath, "pfx")
    edited
  }
}

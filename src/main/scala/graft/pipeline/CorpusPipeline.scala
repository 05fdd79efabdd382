package graft.pipeline

import graft.expressions.BloomExprs
import graft.functions.Text
import graft.operators.{Cleaning, Components, Dedup, Packing, Sampling}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end training-corpus construction — the composition a pretraining
 * data team actually runs, assembled ENTIRELY from the library's gated
 * operators (nothing new computes here; this is the integration artifact
 * proving the pieces compose):
 *
 *   0. markup strip            (optional, `stripMarkupFirst`) —
 *                              Text.stripMarkup BEFORE the funnel: the
 *                              quality stats must judge extracted text,
 *                              not tag soup; edited docs counted
 *   1. quality funnel          Cleaning.survivors (first-failure stages)
 *   1b. line-frequency dedup   (optional, `lineDedupMinDocs`) —
 *                              Cleaning.dropFrequentLines BEFORE exact
 *                              dedup (chrome removed first lets exact
 *                              dedup collapse docs that differ only in
 *                              their banners); docs the edit empties drop
 *   2. normalized exact dedup  Text.normalizeForDedup + Dedup.keepFirst
 *   2a. de-stutter cut         (optional, `selfRepeatWindow`) —
 *                              Dedup.selfRepeatedSpanRanges + cut BEFORE
 *                              the cross-doc span cut (internal stutter
 *                              cleaned first, one good copy kept)
 *   2b. boilerplate span cut   (optional, `spanCutWindow`) —
 *                              Dedup.cutSpanRangesFrom BEFORE near-dedup
 *                              (shared boilerplate inflates Jaccard into
 *                              false near-dup groups); docs the cut
 *                              empties drop, edited docs are counted
 *   3. minhash near-dedup      Dedup.minhashNearDupPairs → Components
 *                              → drop non-keepers
 *   3b. semantic near-dedup    (optional, `embeddings`) —
 *                              Similarity.semanticDedupGroups over the
 *                              survivors' embeddings: catches paraphrase
 *                              duplicates that share no 3-gram; centroids
 *                              self-train at k = nprobe·√n (centroid-count
 *                              law, SCALE.md)
 *   3c. surgical decontam.     (optional, `evalCutWindow`) —
 *                              Dedup.crossSetSpanRanges + cut: verbatim
 *                              leaked eval passages removed BEFORE the
 *                              drop screen, so a doc that merely quotes
 *                              one eval item keeps its clean content
 *   4. eval decontamination    Dedup.bloomScreen (broadcast bitmap prunes
 *                              the corpus side) → exact
 *                              crossSetContamination ≥ threshold drops
 *                              — judging the EDITED text when 3c ran
 *   4a. integer fluency screen (optional, `fluencyMin`) — the
 *                              oracle-gateable tier of the CCNet fluency
 *                              idea: per-doc Stupid Backoff backoff
 *                              census, keep docs the model recognizes at
 *                              order ≥ 2 for ≥ num/den of their tokens —
 *                              exact cross-multiplied integers, so the
 *                              kept set is engine-independent
 *   4a''. banded-sampling admission (optional, `bandRates`) — the CCNet
 *                              §4.3 recipe proper: per-doc integer
 *                              fluency permille (the q132/q144 census
 *                              grain) over the self-trained (or
 *                              `lmTrainDocs`) model, per-group tercile
 *                              banding by exact histogram edges
 *                              (CorpusStats.bandByGroupQuantiles), then
 *                              the per-band hash-RATE draw
 *                              (Sampling.hashSampleByGroup) — a
 *                              stateless fraction, the form that scales
 *                              (rank quotas are for bounded mixes);
 *                              group = `bandGroupCol` (a language/source
 *                              column) or one global band set when None
 *   4a'. LM perplexity band    (optional, `lmBandKeep`) — the CCNet-style
 *                              perplexity band (Wenzek 2020): a Stupid
 *                              Backoff trigram model trains on the clean
 *                              decontaminated corpus (or `lmTrainDocs`, a
 *                              reference corpus — CCNet trains on
 *                              Wikipedia), every doc is scored, and only
 *                              the [from,to) perplexity band ships —
 *                              catches machine-garbled text and token
 *                              salad the length/punctuation funnel cannot
 *                              see; runs AFTER dedup/decontamination so
 *                              the model never trains on text later
 *                              stages would remove
 *   4b. token-budget sample    (optional, `tokenBudgetDocs`) —
 *                              Sampling.ppsSample ∝ token count over the
 *                              clean decontaminated corpus (budget is
 *                              never spent on docs later stages drop)
 *   5. split assignment        Sampling.assignSplits (hash-stable), or
 *                              Sampling.stratifiedSplit when `stratifyBy`
 *                              is set (exact per-stratum quotas)
 *   6. sequence packing        Packing.packSequences over the train split
 *   7. sentence chunking       (optional, `sentenceChunkTokens`) —
 *                              Chunking.chunkBySentences over the final
 *                              corpus (RAG-ingestion view; count reported)
 *   8. release emit            (optional, `emitPath`) —
 *                              Layout.writeCorpusRelease: sharded files +
 *                              _manifest.json + _datacard.json; and/or
 *                              `emitJsonlPath` — Layout.writeJsonl
 *                              (textual JSONL shards, loader-friendly)
 *
 * Every stage is hash-driven, so the same corpus yields identical
 * surviving ids, splits and pack layout on any cluster or partitioning —
 * the reproducibility a resumable 100 TB data job needs. The report
 * carries per-stage counts so every dropped document is attributable.
 *
 * Scale shape: stages 1-2 are a narrow scan + one digest shuffle; stage 3
 * is the sub-quadratic LSH pipeline; stage 4 touches only bloom-flagged
 * docs (eval sets are tiny → the flagged fraction is, too); stages 5-6
 * are a projection and one keyed shuffle.
 */
object CorpusPipeline {

  final case class Report(
      input: Long,
      cleaned: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      contaminated: Long,
      corpus: Long,
      splitCounts: Map[String, Long],
      trainSequences: Long,
      afterSemanticDedup: Long = 0L,
      sentenceChunks: Long = 0L,
      emittedShards: Int = 0,
      spanEditedDocs: Long = 0L,
      afterSpanCut: Long = 0L,
      evalCutDocs: Long = 0L,
      afterEvalCut: Long = 0L,
      lineEditedDocs: Long = 0L,
      afterLineDedup: Long = 0L,
      selfRepeatEditedDocs: Long = 0L,
      afterSelfRepeatCut: Long = 0L,
      markupEditedDocs: Long = 0L,
      afterBudget: Long = 0L,
      lmFiltered: Long = 0L,
      afterLmFilter: Long = 0L,
      fluencyFiltered: Long = 0L,
      afterFluency: Long = 0L,
      bandRateFiltered: Long = 0L,
      afterBandRate: Long = 0L)

  /**
   * Shared iterated-cut loop for stages 2b and 3c: per round, `detect`
   * the span ranges over the current frame, cut them, and drop ONLY the
   * docs that round's cut emptied — a doc whose text was already empty
   * (or null, rebuilt to "") is not the stage's casualty and passes
   * through like every other stage leaves it. Iterates until a round
   * detects nothing (seam-created duplicates included) or `maxRounds`.
   * Returns (cut frame, distinct edited-doc count, final count).
   */
  private def iteratedCut(docs: DataFrame, idCol: String, textCol: String,
                          detect: DataFrame => DataFrame,
                          maxRounds: Int = 3): (DataFrame, Long, Long) = {
    var cur = docs
    var editedIds = Seq.empty[DataFrame]
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val ranges = detect(cur).localCheckpoint()
      if (ranges.isEmpty) done = true
      else {
        val ids = ranges.select(col("id").as(idCol)).distinct().localCheckpoint()
        editedIds = editedIds :+ ids
        cur = Dedup.cutSpanRangesFrom(cur, idCol, textCol, ranges)
          .join(ids.withColumn("__edited", lit(1)), Seq(idCol), "left")
          .where(col(textCol) =!= "" || col("__edited").isNull)
          .drop("__edited")
          .localCheckpoint()
        rounds += 1
      }
    }
    val edited =
      if (editedIds.isEmpty) 0L
      else editedIds.reduce(_ unionByName _).distinct().count()
    (cur, edited, cur.count())
  }

  /** Counts from [[phaseClean]] (stages 0–2b). Optional stages that did
    * not run repeat their predecessor's count, as run()'s Report always
    * did. */
  final case class CleanCounts(
      input: Long, markupEdited: Long, cleaned: Long,
      lineEdited: Long, afterLineDedup: Long, afterExactDedup: Long,
      selfRepeatEdited: Long, afterSelfRepeatCut: Long,
      spanEdited: Long, afterSpanCut: Long)

  /** Counts + corpus frame from [[phaseFinish]] (stages 5–8). */
  final case class FinishOut(
      corpus: DataFrame, corpusDocs: Long, splitCounts: Map[String, Long],
      trainSequences: Long, sentenceChunks: Long, emittedShards: Int)

  // ── Staged deployment phases ──────────────────────────────────────────
  // run() composes the phases below into one fused job; a STAGED
  // deployment (the CCNet score-file architecture — Wenzek 2020 run LM
  // scoring once and ship score files that banding/admission jobs read)
  // runs each phase as its own job with parquet handoffs, which (a) makes
  // a 100 TB pipeline resumable at stage grain and (b) bounds each job's
  // LIVE scratch footprint to its own deepest stage — the constraint the
  // round-10 15M single-box probe hit (SCALE.md: one fused run's
  // in-flight spill crested the machine's scratch budget; per-job, each
  // stage's spill dies with its session). Every phase decision is
  // hash/integer-driven on columns parquet round-trips bit-exactly, so a
  // staged run's decision set EQUALS the fused run's (PipelineSpec pins
  // the Report identity). graft.StagedCapstone is the reference driver.

  /**
   * Stages 0–2b as one job: markup strip, quality funnel, line-frequency
   * dedup, normalized exact dedup, de-stutter cut, boilerplate span cut.
   * Returns the cut frame (checkpointed) and the phase counts.
   */
  def phaseClean(docs: DataFrame, idCol: String, textCol: String,
                 stages: Seq[(String, Column)],
                 stripMarkupFirst: Boolean = false,
                 lineDedupMinDocs: Option[Long] = None,
                 lineDedupSep: String = "\n",
                 selfRepeatWindow: Option[Int] = None,
                 spanCutWindow: Option[Int] = None,
                 spanCutMaxBucket: Int = 10000): (DataFrame, CleanCounts) = {
    val input = docs.count()

    // 0 (optional): markup → text extraction — the crawl-ingest cleaner
    // runs BEFORE the quality funnel (length/stopword/quality stats must
    // judge the extracted text, not tag soup). Edited-doc count via one
    // dual-column projection; no extra pass over the data.
    val (prepped, nMarkupEdited) =
      if (!stripMarkupFirst) (docs, 0L)
      else {
        val s = docs.withColumn("__stripped", Text.stripMarkup(col(textCol)))
          .localCheckpoint() // feeds the edited count AND the funnel
        val edited = s.where(!(col("__stripped") <=> col(textCol))).count()
        (s.withColumn(textCol, col("__stripped")).drop("__stripped"), edited)
      }

    // 1-2: funnel, then canonicalize-and-keep-first. Both frames checkpoint
    // eagerly: each feeds multiple consumers (count + next stage; `exact`
    // additionally the pair pipeline, the keeper anti-join and the screen)
    // and lazy lineage would re-run the funnel scan per consumer (NOTES
    // invariant #4).
    val cleaned = Cleaning.survivors(prepped, stages).localCheckpoint()
    val nCleaned = cleaned.count()

    // 1b (optional): line-frequency boilerplate removal — chrome cut
    // BEFORE exact dedup so documents differing only in banners collapse
    // there. Same casualty rule as the span cuts: docs the edit empties
    // drop, docs that arrived empty (or null, rebuilt "") pass through.
    val (lined, nLineEdited, nLined) = lineDedupMinDocs match {
      case None => (cleaned, 0L, nCleaned)
      case Some(m) =>
        val joined = Cleaning
          .dropFrequentLines(cleaned, idCol, textCol, lineDedupSep, m)
          .join(cleaned.select(col(idCol), col(textCol).as("__prev")), Seq(idCol))
          .localCheckpoint() // feeds the edited count AND the survivor filter
        val nEdited = joined.where(col(textCol) =!= col("__prev")).count()
        val kept = joined
          .where(col(textCol) =!= "" || col("__prev").isNull || col("__prev") === "")
          .drop("__prev")
          .localCheckpoint()
        (kept, nEdited, kept.count())
    }

    val exact = Dedup.keepFirst(
        lined.withColumn("__norm", Text.normalizeForDedup(col(textCol))),
        keys = Seq("__norm"), tieBreak = idCol)
      .drop("__norm")
      .localCheckpoint()
    val nExact = exact.count()

    // 2a (optional): intra-doc de-stutter — repeated passages within one
    // document cut (first occurrence kept) BEFORE the cross-doc span cut.
    val (destut, nSelfEdited, nDestut) = selfRepeatWindow match {
      case None => (exact, 0L, nExact)
      case Some(w) =>
        iteratedCut(exact, idCol, textCol,
          d => Dedup.selfRepeatedSpanRanges(d, idCol, textCol, w))
    }

    // 2b (optional): boilerplate span cut — duplicated cross-doc passages
    // removed BEFORE near-dedup (shared boilerplate inflates Jaccard into
    // false near-dup groups); docs the cut empties out drop here.
    // Iterated to a fixpoint: one cut pass can SEAM surrounding tokens
    // into a new duplicated window (Dedup.cutDuplicatedSpansToFixpoint's
    // rationale). `spanCutMaxBucket` is the hot-span state bound — raise
    // it for corpora where ONE boilerplate passage floods more documents
    // than the default cap, or the flood survives the cut uncut.
    val (spanCut, nSpanEdited, nSpanCut) = spanCutWindow match {
      case None => (destut, 0L, nDestut)
      case Some(w) =>
        iteratedCut(destut, idCol, textCol,
          d => Dedup.duplicatedSpanRanges(d, idCol, textCol, w, spanCutMaxBucket))
    }
    (spanCut, CleanCounts(input, nMarkupEdited, nCleaned, nLineEdited, nLined,
      nExact, nSelfEdited, nDestut, nSpanEdited, nSpanCut))
  }

  /**
   * Stages 3 + 3b as one job: minhash near-dedup (pairs → components →
   * drop non-keepers) and the optional embedding semantic near-dedup.
   * This is the pipeline's deepest-spilling phase at corpus scale (the
   * posting-list pair expansion + iterative components) — the one a
   * staged deployment most wants in its own scratch lifetime. Returns
   * (surviving frame, count after minhash, count after semantic).
   */
  def phaseNearDedup(spanCut: DataFrame, idCol: String, textCol: String,
                     nearDupThreshold: Double = 0.5,
                     nearDupRepScore: Option[Column] = None,
                     embeddings: Option[DataFrame] = None,
                     semanticThreshold: Double = 0.4,
                     semanticNprobe: Int = 2): (DataFrame, Long, Long) = {
    // 3: near-dedup — pairs, components, drop every non-representative.
    // Default representative = the smallest-id keeper; with nearDupRepScore
    // set, each group keeps its BEST-scored member instead (the group
    // label stays the smallest id either way — bestPerGroup separates
    // naming from policy).
    val pairs = Dedup.minhashNearDupPairs(spanCut, idCol, textCol,
      n = 3, numHashes = 16, bands = 4, threshold = nearDupThreshold)
    val groups = Components.dedupGroups(pairs)
    val losers = nearDupRepScore match {
      case None => groups.where(!col("is_keeper")).select(col("id").as(idCol))
      case Some(scoreExpr) =>
        val scored = spanCut.select(col(idCol), scoreExpr.as("__rep_score"))
        Components.bestPerGroup(groups, scored, idCol, "__rep_score")
          .where(!col("is_rep")).select(col("id").as(idCol))
    }
    val near = spanCut.join(losers, Seq(idCol), "left_anti").localCheckpoint()
    val nNear = near.count()

    // 3b (optional): semantic near-dedup over the survivors' embeddings —
    // paraphrase duplicates share no 3-gram, so the minhash stage cannot
    // see them; embedding cosine can. The embeddings frame must carry
    // (idCol, "embedding"); only survivors' vectors participate, centroids
    // self-train at the centroid-count-law k.
    val sem = embeddings match {
      case None => near
      case Some(embAll) =>
        val emb = embAll.select(col(idCol), col("embedding"))
          .join(near.select(col(idCol)), Seq(idCol))
          .select(col(idCol).as("vec_id"), col("embedding"))
          .localCheckpoint() // consumed by count + training + pair pipeline
        val n = emb.count()
        if (n < 2) near
        else {
          val k = math.max(4, (semanticNprobe * math.sqrt(n.toDouble)).toInt)
          val cents = graft.operators.Similarity.trainCentroids(emb, k, iters = 2)
          val semLosers = graft.operators.Similarity
            .semanticDedupGroups(emb, cents, semanticThreshold, semanticNprobe)
            .where(!col("is_keeper"))
            .select(col("id").as(idCol))
          near.join(semLosers, Seq(idCol), "left_anti").localCheckpoint()
        }
    }
    val nSem = if (embeddings.isEmpty) nNear else sem.count()
    (sem, nNear, nSem)
  }

  /**
   * Stages 3c + 4 as one job: optional surgical eval-passage cut, then
   * the bloom-pruned exact decontamination screen. Returns the screened
   * frame LAZY (the caller's next consumer — the fluency phase or the
   * split — checkpoints and counts it exactly once, run()'s convention),
   * plus (eval-cut edited docs, count after the cut).
   */
  def phaseDecontaminate(sem: DataFrame, nSem: Long, evalDocs: DataFrame,
                         idCol: String, textCol: String,
                         contaminationThreshold: Double = 0.5,
                         bloomBits: Int = 0,
                         evalCutWindow: Option[Int] = None)
      : (DataFrame, Long, Long) = {
    // 3c (optional): SURGICAL decontamination — cut verbatim leaked eval
    // passages out of surviving docs BEFORE the drop screen, so a long
    // document that merely quotes one eval item keeps its clean content;
    // stage 4's screen then judges the EDITED text (quote gone → doc no
    // longer scores contaminated). Docs the cut empties drop here.
    val (decut, nEvalCut, nDecut) = evalCutWindow match {
      case None => (sem, 0L, nSem)
      case Some(w) =>
        // static side computed ONCE for all fixpoint rounds
        val evalHashes = Dedup.evalSpanHashes(evalDocs, idCol, textCol, w)
          .localCheckpoint()
        iteratedCut(sem, idCol, textCol,
          d => Dedup.crossSetSpanRangesFromHashes(d, evalHashes, idCol, textCol, w))
    }

    // 4: decontamination — the bitmap screen prunes the corpus side to the
    // docs sharing ≥1 shingle with the eval set (no false negatives), the
    // exact scorer then runs only over that sliver. The eval shingle
    // stream is checkpointed and REUSED by the bitmap build and the exact
    // scorer (contaminationFromHashed) — eval docs shingle+hash once
    val evalShingles = Dedup.hashedShingles(evalDocs, idCol, textCol, n = 3)
      .localCheckpoint()
    // bitmap auto-sizing (bloomBits = 0): m from the eval set's distinct
    // shingle count at 3% target fpp — the knob nobody should hand-tune
    val mBits =
      if (bloomBits > 0) bloomBits
      else BloomExprs.bitsForFpp(evalShingles.select("h").distinct().count(), 0.03)
    val words = BloomExprs.buildBitmap(evalShingles, "h", mBits)
    val flagged = decut.where(Dedup.bloomScreen(col(textCol), 3, words, mBits))
    val dirty = Dedup.contaminationFromHashed(
        evalShingles, evalShingles,
        Dedup.hashedShingles(flagged, idCol, textCol, n = 3), Int.MaxValue)
      .where(col("contamination") >= contaminationThreshold)
      .select(col("test_id").as(idCol))
    (decut.join(dirty, Seq(idCol), "left_anti"), nEvalCut, nDecut)
  }

  /** Shared trigram-model build for the fluency/banding/ppl screens — the
    * pipeline's one row-BLOWUP aggregation (the gram stream is ~3× the
    * token stream before it aggregates), kept lazy inside the fused plan. */
  private def buildLm(trainDocs: DataFrame, textCol: String, lmMinCount: Long): DataFrame =
    graft.operators.NgramLm.lmCounts(trainDocs, textCol, n = 3, lmMinCount)

  /**
   * Stage 4a as one job: the INTEGER fluency screen — self-trained (or
   * `lmTrainDocs`) Stupid Backoff trigram model, keep documents the model
   * recognizes at order ≥ 2 for ≥ num/den of their scored tokens (exact
   * cross-multiplied integers — NgramLm.fluencyThresholdFilter's rule).
   * Returns (kept frame checkpointed, count before, count after).
   */
  def phaseFluency(screened: DataFrame, idCol: String, textCol: String,
                   num: Int, den: Int, lmMinCount: Long = 2L,
                   lmTrainDocs: Option[DataFrame] = None): (DataFrame, Long, Long) = {
    require(num >= 0 && den > 0, s"fluencyMin must be a non-negative " +
      s"rational with positive denominator, got $num/$den")
    val base = screened.localCheckpoint() // census + scoring + keep join
    val nb = base.count()
    val trainDocs = lmTrainDocs.getOrElse(base)
    val kept = graft.operators.NgramLm.fluencyThresholdFilter(base,
        buildLm(trainDocs, textCol, lmMinCount),
        graft.operators.NgramLm.lmTotals(trainDocs, textCol),
        idCol, textCol, num, den).localCheckpoint()
    (kept, nb, kept.count())
  }

  /**
   * The staged score-file build: [[graft.operators.NgramLm.fluencyPermille]]
   * over a (persisted) screened pool under its self-trained (or
   * `lmTrainDocs`) trigram model — the frame a staged deployment writes
   * to parquet ("CCNet ships score files") and the admission job reads.
   * The fused stage 4a'' computes EXACTLY this frame in-plan; one
   * implementation, so staged and fused runs can never score differently.
   */
  def fluencyScoreFile(pool: DataFrame, idCol: String, textCol: String,
                       bandGroupCol: Option[String] = None,
                       lmMinCount: Long = 2L,
                       lmTrainDocs: Option[DataFrame] = None): DataFrame = {
    val trainDocs = lmTrainDocs.getOrElse(pool)
    graft.operators.NgramLm.fluencyPermille(pool,
      buildLm(trainDocs, textCol, lmMinCount),
      graft.operators.NgramLm.lmTotals(trainDocs, textCol),
      idCol, textCol, bandGroupCol)
  }

  /**
   * Stages 5–8 as one job: split assignment, split census, train-split
   * packing, optional sentence-chunk census and release emit.
   */
  def phaseFinish(corpusBase: DataFrame, idCol: String, textCol: String,
                  splits: Seq[(String, Int)] =
                    Seq("train" -> 8, "val" -> 1, "test" -> 1),
                  maxTokens: Int = 512, packShards: Int = 4,
                  stratifyBy: Option[String] = None, stratifySeed: Long = 0L,
                  sentenceChunkTokens: Option[Int] = None,
                  emitPath: Option[String] = None,
                  emitJsonlPath: Option[String] = None): FinishOut = {
    val corpus = (stratifyBy match {
      case None =>
        corpusBase.withColumn("split", Sampling.splitColumn(col(idCol), splits))
      case Some(sc) =>
        // weights → exact percents (8/1/1 of 10 → 80/10/10); the FIRST
        // split is the stratified `rest` label, the others get quotas
        val total = splits.map(_._2).sum
        require(100 % total == 0,
          s"stratifyBy needs split weights whose total divides 100, got $total")
        val f = 100 / total
        Sampling.stratifiedSplit(corpusBase, idCol, sc,
          quotas = splits.tail.map { case (n, w) => n -> w * f },
          seed = stratifySeed, rest = splits.head._1)
    }).localCheckpoint()
    val nCorpus = corpus.count()

    // 5-6: split census + train-split packing
    val splitCounts = corpus.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val packed = Packing.packSequences(
      corpus.where(col("split") === "train"), idCol,
      Text.tokenCount(col(textCol)), shards = packShards, maxTokens = maxTokens)
    // sequence count per shard = ceil(total tokens / maxTokens), read off
    // the pack layout's end offset. Counting DISTINCT pack_id instead
    // undercounts: a doc longer than maxTokens spans packs that contain no
    // document START and so never appear as a pack_id of their own.
    val nSeqs = packed
      .groupBy("shard")
      .agg(ceil(max(col("start_offset") + col("tokens")) / maxTokens).as("seqs"))
      .agg(coalesce(sum(col("seqs")), lit(0L))) // empty train split -> 0
      .head().getLong(0)

    // 7 (optional): sentence-chunk census over the final corpus — the
    // RAG-ingestion view; every corpus doc contributes ≥1 chunk row
    val nChunks = sentenceChunkTokens.map(mt =>
      graft.operators.Chunking.chunkBySentences(corpus, idCol, textCol, mt).count())
      .getOrElse(0L)

    // 8 (optional): release emit — sharded files + manifest + data card;
    // emitJsonlPath additionally (or instead) writes the textual JSONL
    // release (Layout.writeJsonl) — same corpus, loader-friendly format.
    val emitted = emitPath.map(p =>
      graft.operators.Layout.writeCorpusRelease(corpus, p, idCol, textCol, packShards))
    emitJsonlPath.foreach(p => graft.operators.Layout.writeJsonl(
      corpus, p, idCol, Seq(idCol, "split", textCol), packShards))
    FinishOut(corpus, nCorpus, splitCounts, nSeqs, nChunks,
      emitted.map(_.shards.size).getOrElse(0))
  }

  def run(docs: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
          stages: Seq[(String, Column)],
          nearDupThreshold: Double = 0.5,
          contaminationThreshold: Double = 0.5,
          splits: Seq[(String, Int)] = Seq("train" -> 8, "val" -> 1, "test" -> 1),
          maxTokens: Int = 512,
          packShards: Int = 4,
          bloomBits: Int = 0, // 0 = auto-size from the eval set (fpp 3%)

          embeddings: Option[DataFrame] = None,
          semanticThreshold: Double = 0.4,
          semanticNprobe: Int = 2,
          sentenceChunkTokens: Option[Int] = None,
          emitPath: Option[String] = None,
          spanCutWindow: Option[Int] = None,
          spanCutMaxBucket: Int = 10000,
          evalCutWindow: Option[Int] = None,
          lineDedupMinDocs: Option[Long] = None,
          lineDedupSep: String = "\n",
          selfRepeatWindow: Option[Int] = None,
          stratifyBy: Option[String] = None,
          stratifySeed: Long = 0L,
          nearDupRepScore: Option[Column] = None,
          stripMarkupFirst: Boolean = false,
          fluencyMin: Option[(Int, Int)] = None,
          bandRates: Option[Map[String, (Int, Int)]] = None,
          bandGroupCol: Option[String] = None,
          bandSeed: Long = 0L,
          lmBandKeep: Option[(Double, Double)] = None,
          lmMinCount: Long = 2L,
          lmAlpha: Double = 0.4,
          lmTrainDocs: Option[DataFrame] = None,
          tokenBudgetDocs: Option[Long] = None,
          budgetSeed: Long = 0L,
          emitJsonlPath: Option[String] = None): (DataFrame, Report) = {
    // Argument-only checks fail BEFORE any cluster work — stage 5's
    // quota math must not be the first place a bad weight list surfaces.
    if (stratifyBy.isDefined)
      require(100 % splits.map(_._2).sum == 0,
        s"stratifyBy needs split weights whose total divides 100, " +
          s"got ${splits.map(_._2).sum}")
    // stages 0–4 delegate to the staged-deployment phases above — run()
    // IS the fused composition of the same phase functions a staged
    // driver runs one job each, so the two shapes cannot diverge
    val (spanCut, cc) = phaseClean(docs, idCol, textCol, stages,
      stripMarkupFirst, lineDedupMinDocs, lineDedupSep, selfRepeatWindow,
      spanCutWindow, spanCutMaxBucket)
    val input = cc.input
    val nCleaned = cc.cleaned
    val nLineEdited = cc.lineEdited
    val nLined = cc.afterLineDedup
    val nExact = cc.afterExactDedup
    val nSelfEdited = cc.selfRepeatEdited
    val nDestut = cc.afterSelfRepeatCut
    val nSpanEdited = cc.spanEdited
    val nSpanCut = cc.afterSpanCut
    val nMarkupEdited = cc.markupEdited

    val (sem, nNear, nSem) = phaseNearDedup(spanCut, idCol, textCol,
      nearDupThreshold, nearDupRepScore, embeddings, semanticThreshold,
      semanticNprobe)

    val (screened, nEvalCut, nDecut) = phaseDecontaminate(sem, nSem,
      evalDocs, idCol, textCol, contaminationThreshold, bloomBits,
      evalCutWindow)

    // 4a (optional): INTEGER-grain fluency screen — the oracle-gateable
    // tier of the CCNet fluency idea: train the Stupid Backoff trigram
    // model (on the screened corpus itself, or `lmTrainDocs`), take the
    // per-doc backoff census, and keep documents whose token mass the
    // model recognizes at order ≥ 2 for at least num/den of their
    // scored tokens — (o3 + o2)·den ≥ num·scored_tokens, exact
    // cross-multiplication (the q133 discipline), so the kept set is
    // engine- and partitioning-independent, unlike the float
    // perplexity band below. Runs AFTER dedup and decontamination (the
    // CCNet order) so duplicated or leaked text never inflates its own
    // n-gram counts. Note: the self-trained model is a global artifact,
    // so this stage is batch-shaped; the streamable twin is the same
    // operator under a FROZEN model (NgramLm.fluencyThresholdFilter
    // through IncrementalDedup.attach — StatefulOpsSpec pins the
    // parity). The stage IS that operator applied to the self-trained
    // (or lmTrainDocs) model — one decision rule, one implementation.
    // The trigram-model builds for stages 4a/4a''/4a' share [[buildLm]].
    val (fluent, nScreenedPreFluency, nFluent) = fluencyMin match {
      case None => (screened, -1L, -1L)
      case Some((num, den)) =>
        phaseFluency(screened, idCol, textCol, num, den, lmMinCount,
          lmTrainDocs)
    }

    // 4a'' (optional): CCNet banded-sampling admission — the §4.3 recipe
    // proper. The stage IS NgramLm.bandRateAdmission under the
    // self-trained (or lmTrainDocs) model — ONE implementation of the
    // decision rule (census permille → per-group exact-histogram
    // terciles via bandByGroupQuantiles → per-band stateless hash-rate
    // draw via hashSampleByGroup), shared with the q149 gate so the
    // stage and the gate can never band or draw differently. Group =
    // `bandGroupCol` (a language/source column carried through the
    // pipeline) or one global band set when None. Like stage 4a, a doc
    // the model scores zero tokens for has no census row and is dropped.
    // The self-trained edges make this stage batch-shaped; the streamable
    // twin is bandByEdges (frozen calibration frame) + the same rate
    // filter — both stream-pinned in StatefulOpsSpec.
    val (bandKept, nPreBandRate, nBandKept) = bandRates match {
      case None => (fluent, -1L, -1L)
      case Some(rates) =>
        // when 4a ran, `fluent` is already checkpointed and counted —
        // never re-materialize the corpus between adjacent screens
        val base =
          if (nFluent >= 0) fluent
          else fluent.localCheckpoint() // census + banding + draw join
        val nb = if (nFluent >= 0) nFluent else base.count()
        // the stage = fluencyScoreFile (the frame a staged deployment
        // persists) + bandRateFromScores (the frame its admission job
        // reads) — composed lazily here, so the fused plan is unchanged
        // while the staged run shares every line of the decision rule
        val admitted = graft.operators.NgramLm.bandRateFromScores(
            fluencyScoreFile(base, idCol, textCol, bandGroupCol, lmMinCount,
              lmTrainDocs),
            rates, seed = bandSeed)
          .select(col("id").as(idCol))
        val kept = base.join(admitted, Seq(idCol), "leftsemi").localCheckpoint()
        (kept, nb, kept.count())
    }

    // 4a' (optional): LM perplexity-band screen — train the Stupid
    // Backoff trigram model (on the screened corpus itself, or
    // `lmTrainDocs` when a trusted reference corpus is available), score
    // every surviving doc, keep the [from,to) perplexity band. Runs
    // AFTER dedup and decontamination (the CCNet order) so duplicated or
    // leaked text never inflates its own n-gram counts; BEFORE the
    // budget sample so budget is never spent on disfluent docs. Floats
    // at the band edge — spec-pinned, not oracle-gated.
    val (lmKept, nScreenCensus, nLmKept) = lmBandKeep match {
      case None => (bandKept, -1L, -1L)
      case Some((from, to)) =>
        // reuse the predecessor screen's checkpoint + count when one ran
        val base =
          if (nBandKept >= 0 || nFluent >= 0) bandKept
          else bandKept.localCheckpoint() // census + scoring + band join
        val nb =
          if (nBandKept >= 0) nBandKept
          else if (nFluent >= 0) nFluent
          else base.count()
        val trainDocs = lmTrainDocs.getOrElse(base)
        val scoredToks = graft.operators.NgramLm.scoreTokens(base,
          buildLm(trainDocs, textCol, lmMinCount),
          graft.operators.NgramLm.lmTotals(trainDocs, textCol), idCol, textCol)
        val kept = graft.operators.NgramLm
          .pplBandFilter(base, scoredToks, idCol, from, to, lmAlpha)
          .localCheckpoint()
        (kept, nb, kept.count())
    }

    // 4b (optional): token-budget downsample — PPS sampling ∝ token count
    // over the CLEAN, decontaminated corpus (sampling earlier would spend
    // budget on docs later stages drop). Exact-integer inclusion
    // (Sampling.ppsSample) keeps the kept-set reproducible anywhere.
    val (corpusBase, nPreBudget, nBudget) = tokenBudgetDocs match {
      case None => (lmKept, -1L, -1L)
      case Some(target) =>
        val base = lmKept.localCheckpoint() // census + sample + join
        val picked = Sampling.ppsSample(base.select(col(idCol), col(textCol)),
            idCol, Text.tokenCount(col(textCol)), target, budgetSeed)
          .select(col(idCol))
        val kept = base.join(picked, Seq(idCol), "left_semi").localCheckpoint()
        (kept, base.count(), kept.count())
    }
    // stages 5–8 delegate to the finish phase (split, census, pack,
    // chunk, emit) — the staged admission job runs the same function
    val fin = phaseFinish(corpusBase, idCol, textCol, splits, maxTokens,
      packShards, stratifyBy, stratifySeed, sentenceChunkTokens, emitPath,
      emitJsonlPath)
    val corpus = fin.corpus
    val nCorpus = fin.corpusDocs

    // stage-4 screen drops, measured on the post-cut text: whenever a
    // downstream optional stage runs (fluency, LM band, budget), the
    // screen census is explicit so those drops are never misattributed
    // to contamination
    val nAfterScreen =
      if (nScreenedPreFluency >= 0) nScreenedPreFluency
      else if (nPreBandRate >= 0) nPreBandRate
      else if (nScreenCensus >= 0) nScreenCensus
      else if (nPreBudget >= 0) nPreBudget
      else nCorpus
    (corpus, Report(input, nCleaned, nExact, nNear,
      contaminated = nDecut - nAfterScreen,
      corpus = nCorpus, splitCounts = fin.splitCounts,
      trainSequences = fin.trainSequences,
      afterSemanticDedup = nSem, sentenceChunks = fin.sentenceChunks,
      emittedShards = fin.emittedShards,
      spanEditedDocs = nSpanEdited, afterSpanCut = nSpanCut,
      evalCutDocs = nEvalCut, afterEvalCut = nDecut,
      lineEditedDocs = nLineEdited, afterLineDedup = nLined,
      selfRepeatEditedDocs = nSelfEdited, afterSelfRepeatCut = nDestut,
      markupEditedDocs = nMarkupEdited,
      afterBudget = if (nBudget >= 0) nBudget else 0L,
      lmFiltered = if (nLmKept >= 0) nScreenCensus - nLmKept else 0L,
      afterLmFilter = if (nLmKept >= 0) nLmKept else 0L,
      fluencyFiltered = if (nFluent >= 0) nScreenedPreFluency - nFluent else 0L,
      afterFluency = if (nFluent >= 0) nFluent else 0L,
      bandRateFiltered = if (nBandKept >= 0) nPreBandRate - nBandKept else 0L,
      afterBandRate = if (nBandKept >= 0) nBandKept else 0L))
  }

  /**
   * Post-release composition: the epoch-ordered training stream over the
   * final corpus — [[Sampling.expandEpochs]] on the train split, grouped
   * by `groupCol` under a data-constrained token budget (full per-source
   * passes + a deterministic partial pass; repeats capped at `maxEpochs`).
   * This is the frame a data loader consumes: every row is one (doc,
   * epoch) occurrence, bit-reproducible on restart, so the release and
   * its training order ship together.
   */
  def trainingStream(corpus: DataFrame, idCol: String, textCol: String,
                     groupCol: String, budgetTokens: Long,
                     maxEpochs: Int = 4, seed: Long = 42L): DataFrame =
    Sampling.expandEpochs(corpus.where(col("split") === "train"),
      groupCol, idCol, Text.tokenCount(col(textCol)), budgetTokens,
      maxEpochs, seed)
}

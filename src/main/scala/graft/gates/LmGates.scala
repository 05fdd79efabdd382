package graft.gates

import graft.SparkEntry.{BandRates, CapMinTokens, FeatBuckets, GopherKeptCond, PcptEpochs,
  PcptOrders, PcptSampleN, PcptStats, RepetitionKeptCond, bandRateCaseSql,
  capstoneFunnelStages, duckHash, duckShingles, gopherCtes, lmCounts5Shared,
  lmCountsShared, lmCteN, lmFluencyShared, materializeCtes, pcptModel, repetitionCtes, t,
  tercileBandSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram LM and quality-classifier gates: Stupid Backoff token scores
  * and backoff census (orders 3 and 5), CCNet fluency banding and the
  * draws that consume it, the perceptron classifier (model, scores,
  * census, weighted draw) and the DSIR hashed-feature tables. */
object LmGates {

  // A named val: PlanProbe's default reads this gate directly.
  // Stupid Backoff n-gram LM, exact-integer token grain (Brants 2007;
  // the CCNet-style fluency screen, Wenzek 2020): per corpus token, the
  // matched backoff order, the backoff charge and the score fraction's
  // BIGINT numerator/denominator — everything before the engine-local
  // log is integer, so the whole lookup chain (count tables at
  // minCount=LmMinCount, candidate join, order selection, 1/N OOV
  // floor) is hash-gateable. The count table is the staged `lmc` model
  // artifact; scoring is ONE equi-join + one (doc,pos) re-group.
  val lmTokenScores: Gate = Gate("q131_lm_token_scores")((s, dir) =>
    graft.operators.NgramLm.scoreTokens(t(s, dir, "documents"),
        lmCountsShared(s, dir),
        graft.operators.NgramLm.lmTotals(t(s, dir, "documents"), "text"),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")) {
    // Stupid Backoff token grain: the oracle re-derives the pruned count
    // tables per order and the per-token candidate lookup independently
    // (explicit per-slot LEFT JOINs vs the Spark side's single unpivoted
    // candidate join + re-group).
    s"""WITH $lmCte
       |SELECT doc_id, pos, matched_ord, backoffs, c_num, c_den FROM sc""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // DSIR-style hashed-bigram feature distribution table (target =
    // English docs, the in-domain exemplar set): per-bucket target/raw
    // counts — the broadcast-sized model behind importance weighting.
    Gate("q89_feature_table")((s, dir) =>
      graft.operators.CorpusStats.hashedFeatureTable(
        t(s, dir, "documents").withColumn("is_tgt", col("lang") === "en"),
        "is_tgt", "text", n = 2, buckets = FeatBuckets)) {
      // DSIR feature table: hashed-bigram target/raw counts per bucket.
      s"""WITH $featTableCte
         |SELECT bucket, tgt_count, raw_count FROM ft""".stripMargin
    },

    // Per-doc target-affinity masses: the exact-integer core of the DSIR
    // importance weight (the libm log-ratio itself is spec-gated —
    // importanceWeights sums per-bucket log-ratios in DECIMAL for
    // partitioning-independence, with Scala-twin parity pinned).
    Gate("q90_target_affinity")((s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_tgt", col("lang") === "en")
      graft.operators.CorpusStats.targetAffinity(d,
        graft.operators.CorpusStats.hashedFeatureTable(d, "is_tgt", "text",
          n = 2, buckets = FeatBuckets),
        "doc_id", "text", n = 2, buckets = FeatBuckets)
    }) {
      // Per-doc affinity masses over the feature table (featureless docs —
      // none in this corpus, but the contract emits them — keep a zero row
      // via the LEFT JOIN).
      s"""WITH $featTableCte,
         |agg AS (SELECT doc_id, count(*) AS n_feats,
         |         CAST(sum(ft.tgt_count) AS BIGINT) AS tgt_mass,
         |         CAST(sum(ft.raw_count) AS BIGINT) AS raw_mass
         |        FROM bu JOIN ft USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id AS id, CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
         |       CAST(coalesce(a.tgt_mass, 0) AS BIGINT) AS tgt_mass,
         |       CAST(coalesce(a.raw_mass, 0) AS BIGINT) AS raw_mass
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    lmTokenScores,

    // Per-document backoff census — the integer filter-grain artifact:
    // how much of each document the LM recognizes at each order (a doc
    // whose mass sits at matched_ord <= 1 is token salad regardless of
    // its float perplexity). One keyed aggregation over q131's frame.
    Gate("q132_lm_backoff_census")((s, dir) =>
      graft.operators.NgramLm.backoffCensus(
          graft.operators.NgramLm.scoreTokens(t(s, dir, "documents"),
            lmCountsShared(s, dir),
            graft.operators.NgramLm.lmTotals(t(s, dir, "documents"), "text"),
            "doc_id", "text"))
        .withColumnRenamed("id", "doc_id")) {
      // Per-document backoff census over the same token grain.
      s"""WITH $lmCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS scored_tokens,
         | CAST(sum(CASE WHEN matched_ord = 3 THEN 1 ELSE 0 END) AS BIGINT) AS o3,
         | CAST(sum(CASE WHEN matched_ord = 2 THEN 1 ELSE 0 END) AS BIGINT) AS o2,
         | CAST(sum(CASE WHEN matched_ord = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         | CAST(sum(CASE WHEN matched_ord = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov,
         | CAST(sum(backoffs) AS BIGINT) AS total_backoffs
         |FROM sc GROUP BY doc_id""".stripMargin
    },

    // Discriminative quality classifier — the third canonical filter
    // family beside the Gopher rule battery (q133/q134) and the CCNet LM
    // screen (q131/q132): an integer perceptron on the DSIR hashed-bigram
    // space (q89/q90 conventions), trained to DISTILL the capstone screen
    // battery (label: passes all 21 funnel stages — the GPT-3 pattern of
    // training a cheap linear scorer on expensively-labeled exemplars)
    // from the PcptSampleN smallest-id docs, PcptEpochs passes in id
    // order. Every weight/margin is exact 64-bit integer arithmetic, so
    // the DuckDB oracle REPLAYS training — labeling its own sample with
    // the shared battery fragments, then 64 unrolled margin/update CTEs
    // (the q130 convention) — and must land on the identical sparse
    // weight table.
    Gate("q137_perceptron_model")((s, dir) =>
      pcptModel(s, dir).toDF(s)) {
      // Perceptron model: the oracle replays every training step from
      // scratch (unrolled CTE chain) — agreement means the two engines ran
      // the identical integer recurrence, not that one copied the other's
      // output.
      s"""WITH $perceptronCtes
         |SELECT bucket, w FROM wavg""".stripMargin
    },

    // Corpus-wide classifier inference: score = bias + Σ w·count,
    // keep = score > 0 — the model is a ≤FeatBuckets-row broadcast, the
    // corpus never shuffles anything wider than (doc_id, long). The
    // oracle recomposes scores from its own replayed model.
    Gate("q138_classifier_scores")((s, dir) => scoredDocs(s, dir)) {
      // Classifier inference over the full corpus from the replayed model:
      // bias + matched-occurrence weight sum per doc (LEFT joins keep
      // featureless docs at the bare bias, as training scored them).
      s"""WITH $classifierScoreCtes
         |SELECT doc_id, score, score > 0 AS keep FROM sc""".stripMargin
    },

    // Distillation-quality census: the student classifier (q137's model)
    // against its teacher (the capstone battery verdict) over the WHOLE
    // corpus — the confusion matrix a data team reads before letting the
    // cheap linear scorer stand in for the 21-rule battery at 100 TB
    // (precision/recall/accuracy all derive from these four cells). ONE
    // corpus scan, zero joins: the score is a literal-map FOLD over the
    // shingle array (Classifier.scoreColumn) evaluated beside the
    // battery columns in the same projection — an exploded score would
    // invite Catalyst to collapse the battery below the Generate and
    // re-evaluate it once per shingle (measured 60×). The oracle replays
    // training AND recomputes the battery from its own shared fragments,
    // then recomposes the identical census.
    Gate("q139_classifier_census")((s, dir) =>
      graft.operators.Classifier.confusionCensus(
        t(s, dir, "documents"), pcptModel(s, dir), "doc_id", "text",
        capstoneFunnelStages.map(_._2).reduce(_ && _),
        ns = PcptOrders, buckets = FeatBuckets, withStats = PcptStats)) {
      // Distillation census: the q138 score chain joined to the battery
      // verdict (the q133/q134 shared fragments over the FULL documents
      // table — "cq"-prefixed so they cannot collide with the trainer's
      // "pc" sample fragments), collapsed to the four confusion cells.
      {
      val battery = materializeCtes(
        s"""${gopherCtes("documents", "cq")},
           |${repetitionCtes("documents", "cq")},
           |tpass AS (SELECT g.doc_id,
           |  (wc >= $CapMinTokens AND $GopherKeptCond AND
           |   $RepetitionKeptCond) AS teacher_pass
           | FROM cqgq g JOIN cqgf USING (doc_id) JOIN cqwide USING (doc_id))""".stripMargin)
      s"""WITH $perceptronCtes,
         |$battery,
         |bc AS (SELECT CAST(COALESCE(sum(w), 0) AS BIGINT) AS bias
         |       FROM wavg WHERE bucket = -1),
         |wt AS (SELECT bucket, w FROM wavg WHERE bucket >= 0),
         |${duckStatFeats("documents", "cq")},
         |df AS (SELECT doc_id, ${duckHash("f")} % $FeatBuckets AS bucket
         |       FROM (${duckPcptFeatSelects("documents", "cq")})),
         |sc AS (SELECT d.doc_id,
         |        CAST(bc.bias + COALESCE(sum(w.w), 0) AS BIGINT) AS score
         |       FROM documents d
         |       CROSS JOIN bc
         |       LEFT JOIN df ON df.doc_id = d.doc_id
         |       LEFT JOIN wt w ON w.bucket = df.bucket
         |       GROUP BY d.doc_id, bc.bias)
         |SELECT sc.score > 0 AS pred_keep, tpass.teacher_pass,
         |       count(*) AS n_docs
         |FROM sc JOIN tpass USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    }
    },

    // 5-gram Stupid Backoff token grain — the CCNet PRODUCTION order
    // (Wenzek 2020 scores with KenLM 5-grams). Same two-shuffle scorer
    // as q131 (one candidate equi-join + one (doc,pos) re-group — the
    // order only widens the slot stream 5 → 9 rows per token, it never
    // adds a join), against the staged `lm5` count tables. The oracle
    // re-derives all five pruned count tables and the 9-slot lookup as
    // explicit per-slot LEFT JOINs — independent formulation at the
    // generalized order.
    Gate("q143_lm5_token_scores")((s, dir) =>
      graft.operators.NgramLm.scoreTokens(t(s, dir, "documents"),
          lmCounts5Shared(s, dir),
          graft.operators.NgramLm.lmTotals(t(s, dir, "documents"), "text"),
          "doc_id", "text", n = 5)
        .withColumnRenamed("id", "doc_id")) {
      // Same cross-validation at the CCNet production order: five pruned
      // count tables, nine lookup slots, the full 5→1 backoff chain.
      s"""WITH ${lmCteN(5)}
         |SELECT doc_id, pos, matched_ord, backoffs, c_num, c_den FROM sc""".stripMargin
    },

    // CCNet head/middle/tail corpus banding (Wenzek 2020 §4.3: split
    // each language's corpus by LM score and sample preferentially from
    // the head) at the repo's exact-integer grain: per-doc score = the
    // order-≥2 match PERMILLE of the q132 census (the staged `lmf`
    // score file), per-SOURCE band edges = exact histogram quantiles at
    // 1/3 and 2/3 (the q141 nearest-rank-lower convention), band =
    // value-vs-edge comparison (ties share a band — deterministic on
    // any partitioning, unlike a rank tercile, which also cannot scale:
    // a per-group row_number puts a whole language in one partition).
    // The corpus never sorts; the edges broadcast back at source
    // cardinality. Oracle: independent row_number-grain edge derivation
    // over its own recomposed census.
    Gate("q144_fluency_bands")((s, dir) => fluencyBanded(s, dir)) {
      // CCNet banding: the oracle recomposes the fluency permille from the
      // lmCte census fragments, then derives the per-source band edges the
      // ROW-GRAIN way (row_number at ⌊(n−1)·k/3⌋+1 — the q141 convention,
      // a genuinely different computation than the engine's histogram) and
      // assigns bands by the same value-vs-edge comparison.
      s"""WITH $fluencyBandCtes
         |SELECT doc_id, source, fluency_pm, band FROM bd""".stripMargin
    },

    // Backoff census at the production order — gates the GENERALIZED
    // census path (one o<k> bucket per order k = 5..1, round 8): how much
    // of each document the 5-gram model recognizes at each order. Same
    // one-keyed-aggregation shape as q132; the oracle recomposes it over
    // its own 9-slot lookup chain.
    Gate("q145_lm5_backoff_census")((s, dir) =>
      graft.operators.NgramLm.backoffCensus(
          graft.operators.NgramLm.scoreTokens(t(s, dir, "documents"),
            lmCounts5Shared(s, dir),
            graft.operators.NgramLm.lmTotals(t(s, dir, "documents"), "text"),
            "doc_id", "text", n = 5),
          n = 5)
        .withColumnRenamed("id", "doc_id")) {
      // Backoff census at the production order — the generalized o5..o1
      // bucket columns over the 9-slot lookup chain.
      s"""WITH ${lmCteN(5)}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS scored_tokens,
         | CAST(sum(CASE WHEN matched_ord = 5 THEN 1 ELSE 0 END) AS BIGINT) AS o5,
         | CAST(sum(CASE WHEN matched_ord = 4 THEN 1 ELSE 0 END) AS BIGINT) AS o4,
         | CAST(sum(CASE WHEN matched_ord = 3 THEN 1 ELSE 0 END) AS BIGINT) AS o3,
         | CAST(sum(CASE WHEN matched_ord = 2 THEN 1 ELSE 0 END) AS BIGINT) AS o2,
         | CAST(sum(CASE WHEN matched_ord = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         | CAST(sum(CASE WHEN matched_ord = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov,
         | CAST(sum(backoffs) AS BIGINT) AS total_backoffs
         |FROM sc GROUP BY doc_id""".stripMargin
    },

    // CCNet banding, CONSUMED (Wenzek 2020 §4.3's downstream step:
    // "sample preferentially from the head"): the gated band assignment
    // (q144's exact chain, off the same staged score file) feeding the
    // gated mixture draw (q56's hash-rank quota machinery) with
    // head-heavy quotas — a pure composition gate, zero new operator
    // surface, zero new float surface. Scale shape composes too: the
    // banding never sorts the corpus, and the per-band rank is
    // WindowGroupLimit-bounded (each partition forwards ≤ max-quota rows
    // per band before the single band shuffle).
    Gate("q146_band_mixture")((s, dir) =>
      graft.operators.Sampling.mixtureSample(
        fluencyBanded(s, dir), "band", "doc_id", BandQuotas,
        defaultQuota = 0)) {
      // Band-preferential mixture: the shared banding chain + the q56
      // hash-rank quota draw, partitioned by band.
      {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      val quotaCase = BandQuotas.toSeq.sortBy(_._1)
        .map { case (g, q) => s"WHEN '$g' THEN $q" }.mkString(" ")
      s"""WITH $fluencyBandCtes,
         |mr AS (SELECT doc_id, source, fluency_pm, band,
         |  row_number() OVER (PARTITION BY band
         |                     ORDER BY $h ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
         | FROM bd)
         |SELECT doc_id, source, fluency_pm, band FROM mr
         |WHERE rn <= CASE band $quotaCase ELSE 0 END""".stripMargin
    }
    },

    // Classifier-weighted PPS draw (the FineWeb/DCLM shape: score every
    // document with the cheap distilled classifier, keep a
    // quality-weighted sample): q138's integer score chain feeding
    // q105's exact-integer PPS inclusion with weight = score (ppsSample
    // drops w ≤ 0, so classifier-rejected docs are excluded by the same
    // rule as q138's `keep`). Composition of two gated families; the
    // draw stays a narrow broadcast-total filter — the scored corpus
    // never shuffles.
    Gate("q147_classifier_pps")((s, dir) =>
      graft.operators.Sampling.ppsSample(
        scoredDocs(s, dir), "doc_id", col("score"),
        targetRows = ClsPpsTarget, seed = ClsPpsSeed)) {
      // Classifier-weighted PPS: the shared score chain feeding q105's
      // exact-HUGEINT inclusion test with weight = score (positive scores
      // only — the same keep rule as q138).
      s"""WITH $classifierScoreCtes,
         |wd AS (SELECT doc_id, score AS w FROM sc WHERE score > 0),
         |tt AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM wd)
         |SELECT doc_id, w,
         | least(CAST(1.0 AS DOUBLE), CAST(w AS DOUBLE) * $ClsPpsTarget.0 / total)
         |   AS incl_prob,
         | 1.0 / least(CAST(1.0 AS DOUBLE), CAST(w AS DOUBLE) * $ClsPpsTarget.0 / total)
         |   AS ht_weight
         |FROM wd CROSS JOIN tt
         |WHERE CAST(${duckHash(s"'$ClsPpsSeed ' || CAST(doc_id AS VARCHAR)")} AS HUGEINT) * total
         |   < CAST($ClsPpsTarget AS HUGEINT) * w * 1152921504606846976""".stripMargin
    },

    // Band-preferential RATE admission — the 100 TB form of q146: where
    // the quota draw ranks within each band (right for bounded mixes; a
    // corpus-sized quota would funnel the corpus into |bands| window
    // partitions), the rate draw keeps a per-band FRACTION via the
    // hash-threshold test — a pure stateless per-row filter, no shuffle,
    // no state, streamable under frozen edges. Same shared banded frame
    // as q146; rates keep 9/10 of head, 1/2 of middle, 1/10 of tail.
    Gate("q148_band_rate_sample")((s, dir) =>
      graft.operators.Sampling.hashSampleByGroup(
        fluencyBanded(s, dir), "band", "doc_id", BandRates)) {
      // Band-preferential rate admission: the shared banding chain + the
      // per-band hash-threshold test (hash mod denom < num), both CASEs
      // built from the same shared BandRates.
      {
      // '0 ' = the draw's seed domain (hashSampleByGroup's default seed
      // prefix — domain-separated from the split hash by construction)
      val h = duckHash("'0 ' || CAST(doc_id AS VARCHAR)")
      s"""WITH $fluencyBandCtes
         |SELECT doc_id, source, fluency_pm, band FROM bd
         |WHERE CAST($h AS HUGEINT) % ${bandRateCaseSql(_._2, 1)}
         |    < ${bandRateCaseSql(_._1, 0)}""".stripMargin
    }
    }
  )

  /** DuckDB twin of the q89/q90 hashed-bigram feature pipeline: views fs
    * (per-doc features with the English-target flag), bu (hash buckets),
    * ft (the bucket → target/raw count table). Sums CAST to BIGINT — a
    * bare DuckDB sum() is HUGEINT and would hash-mismatch (the q50
    * lesson). */
  private lazy val featTableCte: String =
    s"""fs AS (SELECT doc_id, (lang = 'en') AS t,
       |        unnest(${duckShingles("text", 2)}) AS f
       |       FROM documents),
       |bu AS (SELECT doc_id, t, ${duckHash("f")} % $FeatBuckets AS bucket FROM fs),
       |ft AS (SELECT bucket,
       |        CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tgt_count,
       |        count(*) AS raw_count
       |       FROM bu GROUP BY bucket)""".stripMargin

  /** The gate-config scored corpus (doc_id, score, keep) — ONE engine-side
    * copy shared by q138 and its PPS consumer q147, mirroring the oracle's
    * shared `classifierScoreCtes` fragment: the gate score and the
    * sampling weight can never drift on either side. */
  private def scoredDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classifier.scoreDocs(
        t(s, dir, "documents"), pcptModel(s, dir),
        "doc_id", "text", ns = PcptOrders, buckets = FeatBuckets,
        withStats = PcptStats)
      .withColumnRenamed("id", "doc_id")

  /** The gate-config banded corpus (doc_id, source, fluency_pm, band) —
    * ONE engine-side copy shared by q144 and its mixture consumer q146,
    * mirroring the oracle's shared `fluencyBandCtes` fragment. */
  private def fluencyBanded(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.bandByGroupQuantiles(
      lmFluencyShared(s, dir), "source", "fluency_pm",
      Seq(("p33", 1, 3), ("p66", 2, 3)), Seq("tail", "middle", "head"))

  /** The gate gram stream in DuckDB (when PcptOrders is nonempty): the
    * same order union as PcptOrders (list concat — grams of different
    * orders cannot collide pre-hash, the space-count argument). */
  private def duckPcptGrams(textCol: String): String =
    PcptOrders.map(k => s"(${duckShingles(textCol, k)})").mkString(" || ")

  /** DuckDB twin of Classifier.statFeatureStrings over `src`, reading
    * the `${p}wide` repetition CTE (must already be in scope — its
    * top/dup masses and total_chars are the q134-gated twins of
    * Quality.topNgramChars/dupNgramChars/nonSpaceChars). Emits
    * `${p}sfx(doc_id, f)`. DuckDB `//` on non-negative BIGINTs matches
    * Spark's `div`. */
  private def duckStatFeats(src: String, p: String): String =
    s"""${p}sfb AS (SELECT d.doc_id,
       |  CAST(len(string_split(d.text,' ')) AS BIGINT) AS wcv,
       |  w.total_chars AS nsc, w.top2_chars, w.top3_chars,
       |  w.dup5_chars, w.dup9_chars
       | FROM $src d JOIN ${p}wide w ON d.doc_id = w.doc_id),
       |${p}sfx AS (SELECT doc_id, unnest([
       |  'wc' || chr(10) || CAST(least(wcv // 5, 60) AS VARCHAR),
       |  'mwl' || chr(10) || CAST(least((nsc * 10) // greatest(wcv, 1), 30) AS VARCHAR),
       |  'top2' || chr(10) || CAST(least((top2_chars * 20) // greatest(nsc, 1), 20) AS VARCHAR),
       |  'top3' || chr(10) || CAST(least((top3_chars * 20) // greatest(nsc, 1), 20) AS VARCHAR),
       |  'dup5' || chr(10) || CAST(least((dup5_chars * 20) // greatest(nsc, 1), 20) AS VARCHAR),
       |  'dup9' || chr(10) || CAST(least((dup9_chars * 20) // greatest(nsc, 1), 20) AS VARCHAR)]) AS f
       | FROM ${p}sfb)""".stripMargin

  /** Per-doc classifier feature stream over `src` (doc_id, f): the gram
    * selects plus the stat strings, matching Classifier.featureStream at
    * the gate config. */
  private def duckPcptFeatSelects(src: String, p: String): String = {
    val grams =
      if (PcptOrders.isEmpty) Nil
      else Seq(s"SELECT doc_id, unnest(${duckPcptGrams("text")}) AS f FROM $src")
    val stats = if (PcptStats) Seq(s"SELECT doc_id, f FROM ${p}sfx") else Nil
    (grams ++ stats).mkString("\n       UNION ALL ")
  }

  /** Band quotas shared by q146's query and oracle — head-preferential,
    * the CCNet §4.3 usage ratio (most of the kept corpus from the head
    * band, a thin slice of the tail for diversity). */
  private val BandQuotas: Map[String, Int] =
    Map("head" -> 60, "middle" -> 30, "tail" -> 10)

  /** Target rows / hash seed for the classifier-weighted PPS gate
    * (q147 and its oracle). */
  private val ClsPpsTarget = 100L
  private val ClsPpsSeed = 11L

  /**
   * DuckDB re-derivation of [[graft.functions.Subword.train]]'s BPE merge
   * table (q130): the word-frequency table, then BpeMerges UNROLLED
   * count-argmax-merge rounds (numMerges is a constant, so unrolling
   * beats a recursive CTE — each round needs a global argmax over the
   * working table, which the single-self-reference recursion rule can't
   * express). Per round r over the segmented words w{r-1}:
   *   p_r  adjacent-pair counts weighted by word frequency (overlapping
   *        occurrences counted, the classic BPE census);
   *   b_r  the merge choice — count desc, pair lexicographic (ASCII
   *        corpus, so UTF-8 ORDER BY ≡ the Scala tuple order);
   *   u_r/k_r/v_r/w_r  the greedy LEFT-TO-RIGHT NON-OVERLAPPING apply:
   *        adjacent match positions chain only when a = b (s[i+1] must
   *        equal both halves), so gaps-and-islands over match positions +
   *        keep-odd-rank-in-chain reproduces the sequential scan; a
   *        position is dropped iff its predecessor was a kept match.
   * The working tables (wf/w0/b_r/w_r) are AS MATERIALIZED: DuckDB
   * inlines CTEs by default, and with 2+ references per round the
   * inlined tree grows EXPONENTIALLY in rounds (the un-materialized
   * 12-round form tried to open the parquet file thousands of times).
   */
  /**
   * DuckDB twin of Classifier.trainPerceptron at the gate config: the
   * oracle first labels its own sample with the SHARED battery fragments
   * (gopherCtes + repetitionCtes over the PcptSampleN-doc pool — the q133/q134/
   * q136 formulations, not the Spark expressions), then unrolls the
   * PcptSampleN·PcptEpochs update steps (q130's convention), each step
   * one MATERIALIZED CTE carrying the sparse nonzero weight table
   * (bias = bucket −1, HAVING <> 0 mirrors the Scala side's zero-weight
   * drop). Step t visits sample doc ((t−1) mod N)+1 in doc_id order;
   * margin = Σ w·cnt over the previous table (bias rides the join as the
   * always-present count-1 feature); y·margin ≤ 0 triggers the additive
   * update. Ends in CTE `wavg` = Σ_t w_t over all steps — the averaged
   * perceptron's unscaled step-sum, matching the Scala accumulator.
   */
  private lazy val perceptronCtes: String = {
    val steps = PcptSampleN * PcptEpochs
    val stepCtes = (1 to steps).map { st =>
      val o = (st - 1) % PcptSampleN + 1
      s"""w$st AS MATERIALIZED (
         |  SELECT bucket, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT bucket, w FROM w${st - 1}
         |    UNION ALL
         |    SELECT f.bucket, f.y * f.cnt AS w FROM pf f
         |    WHERE f.o = $o
         |      AND f.y * (SELECT COALESCE(sum(p.w * g.cnt), 0)
         |                 FROM w${st - 1} p JOIN pf g ON g.bucket = p.bucket
         |                 WHERE g.o = $o) <= 0
         |  ) GROUP BY bucket HAVING CAST(sum(w) AS BIGINT) <> 0)""".stripMargin
    }.mkString(",\n")
    val avgUnion = (1 to steps)
      .map(t => s"SELECT bucket, w FROM w$t")
      .mkString("\n    UNION ALL ")
    val labelCtes = materializeCtes(
      s"""pool AS (SELECT doc_id, text FROM documents
         |         ORDER BY doc_id LIMIT $PcptSampleN),
         |${gopherCtes("pool", "pc")},
         |${repetitionCtes("pool", "pc")},
         |lab AS (SELECT g.doc_id,
         |  CASE WHEN wc >= $CapMinTokens AND $GopherKeptCond AND
         |   $RepetitionKeptCond THEN 1 ELSE -1 END AS y
         | FROM pcgq g JOIN pcgf USING (doc_id) JOIN pcwide USING (doc_id))""".stripMargin)
    s"""$labelCtes,
       |samp AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY p.doc_id) AS o, l.y, p.doc_id, p.text
       |  FROM pool p JOIN lab l ON l.doc_id = p.doc_id),
       |${duckStatFeats("samp", "pc")},
       |pf AS MATERIALIZED (
       |  SELECT o, y, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT o, y, ${duckHash("f")} % $FeatBuckets AS bucket
       |    FROM (SELECT s.o, s.y, x.f FROM samp s
       |          JOIN (${duckPcptFeatSelects("samp", "pc")}) x
       |            ON x.doc_id = s.doc_id))
       |  GROUP BY o, y, bucket
       |  UNION ALL
       |  SELECT o, y, CAST(-1 AS BIGINT) AS bucket, CAST(1 AS BIGINT) AS cnt
       |  FROM samp),
       |w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS w
       |       WHERE false),
       |$stepCtes,
       |wavg AS MATERIALIZED (
       |  SELECT bucket, CAST(sum(w) AS BIGINT) AS w FROM (
       |    $avgUnion
       |  ) GROUP BY bucket HAVING CAST(sum(w) AS BIGINT) <> 0)""".stripMargin
  }

  /** q138's inference chain over the replayed model — bias/weight split,
    * hashed doc features, per-doc integer score — ending in
    * `sc(doc_id, score)`. ONE copy shared by q138 and the
    * classifier-weighted PPS composition (q147), so the gate score and
    * the sampling weight can never drift; q139 keeps its own
    * "cq"-prefixed twin beside the battery fragments. */
  private lazy val classifierScoreCtes: String = {
    val wf = "wavg"
    val docFeats = materializeCtes(
      s"""${repetitionCtes("documents", "sf")},
         |${duckStatFeats("documents", "sf")}""".stripMargin)
    s"""$perceptronCtes,
       |$docFeats,
       |bc AS (SELECT CAST(COALESCE(sum(w), 0) AS BIGINT) AS bias
       |       FROM $wf WHERE bucket = -1),
       |wt AS (SELECT bucket, w FROM $wf WHERE bucket >= 0),
       |df AS (SELECT doc_id, ${duckHash("f")} % $FeatBuckets AS bucket
       |       FROM (${duckPcptFeatSelects("documents", "sf")})),
       |sc AS (SELECT d.doc_id,
       |        CAST(bc.bias + COALESCE(sum(w.w), 0) AS BIGINT) AS score
       |       FROM documents d
       |       CROSS JOIN bc
       |       LEFT JOIN df ON df.doc_id = d.doc_id
       |       LEFT JOIN wt w ON w.bucket = df.bucket
       |       GROUP BY d.doc_id, bc.bias)""".stripMargin
  }

  private lazy val lmCte: String = lmCteN(3)

  /** q144's banding chain (trigram backoff census → order-≥2 match
    * permille → row-grain tercile edges → value-vs-edge assignment),
    * ending in `bd(doc_id, source, fluency_pm, band)` — ONE copy shared
    * by q144 and the band-mixture composition (q146), so the banding
    * gate and its downstream draw can never band differently. */
  private lazy val fluencyBandCtes: String =
    s"""$lmCte,
       |cen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sn,
       |  CAST(sum(CASE WHEN matched_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hi
       | FROM sc GROUP BY doc_id),
       |pm AS (SELECT d.doc_id, d.source,
       |  (c.hi * 1000) // c.sn AS fluency_pm
       | FROM documents d JOIN cen c ON d.doc_id = c.doc_id),
       |${tercileBandSql("", "pm", Some("source"))}""".stripMargin
}

package graft.gates

import graft.SparkEntry.{duckHash, t}
import graft.functions.Text
import graft.operators.Aggregates
import org.apache.spark.sql.functions._

/** Sampling and assembly gates: hash splits, class-balanced and
  * stratified draws, source mixtures (quota, temperature, dyadic tau),
  * PPS draws, epoch plans and curricula, shuffles, length batches and
  * sequence packing. */
object SamplingGates {

  val gates: Seq[Gate] = Seq(
    // Deterministic hash-based train/val/test split (80/10/10) — stable
    // under any partitioning/engine, summarized per split.
    Gate("q43_train_split")((s, dir) => {
      import Aggregates._
      graft.operators.Sampling.assignSplits(t(s, dir, "events"), "event_id",
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .groupBy("split", "event_type")
        .agg(count(lit(1)).as("event_count"), exactSum(col("value")).as("sum_value"))
    }) {
      val h = duckHash("CAST(event_id AS VARCHAR)")
      s"""SELECT CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val' ELSE 'test' END AS split,
         | event_type,
         | CAST(count(*) AS BIGINT) AS event_count,
         | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
         |FROM (SELECT *, $h % 10 AS h FROM events)
         |GROUP BY 1, event_type""".stripMargin
    },

    // Class balancing: at most 300 events per event_type, drawn by
    // hash-of-key rank (deterministic, not partition order).
    Gate("q45_class_balanced_sample")((s, dir) =>
      graft.operators.Sampling.capPerGroup(
        t(s, dir, "events").select("event_type", "event_id", "user_id"),
        groupCol = "event_type", keyCol = "event_id", maxPerGroup = 300)) {
      val h = duckHash("CAST(event_id AS VARCHAR)")
      s"""SELECT event_type, event_id, user_id FROM (
         | SELECT event_type, event_id, user_id,
         |  row_number() OVER (PARTITION BY event_type
         |                     ORDER BY $h ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
         | FROM events) WHERE rn <= 300""".stripMargin
    },

    // Sequence packing: concat-then-chunk into 512-token training
    // sequences, 4 independent shards (shard count = the parallelism knob
    // for the inherently sequential per-shard cumsum; see Packing).
    Gate("q50_sequence_packing")((s, dir) =>
      graft.operators.Packing.packSequences(t(s, dir, "documents"), "doc_id",
        Text.tokenCount(col("text")), shards = 4, maxTokens = 512)) {
      // Packing: identical hash order, pmod shard, window cumsum, floor-div
      // pack math (all-double floor division — exact below 2^53).
      s"""WITH $packCte
         |SELECT doc_id, shard, tokens, start_offset,
         | CAST(floor(CAST(start_offset AS DOUBLE)/512.0) AS BIGINT) AS pack_id,
         | CAST(floor((CAST(start_offset AS DOUBLE)+tokens-1.0)/512.0) AS BIGINT)
         |  - CAST(floor(CAST(start_offset AS DOUBLE)/512.0) AS BIGINT) + 1 AS spans_packs
         |FROM o""".stripMargin
    },

    // Data-mixture construction: per-source quotas (up/down-sample blend),
    // deterministic hash-of-key draw.
    Gate("q56_source_mixture")((s, dir) =>
      graft.operators.Sampling.mixtureSample(t(s, dir, "documents"),
          "source", "doc_id", MixtureQuotas, defaultQuota = 3)
        .select("source", "doc_id")) {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      val quotaCase = MixtureQuotas.toSeq.sortBy(_._1)
        .map { case (g, q) => s"WHEN '$g' THEN $q" }.mkString(" ")
      s"""SELECT source, doc_id FROM (
         | SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source
         |                     ORDER BY $h ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
         | FROM documents)
         |WHERE rn <= CASE source $quotaCase ELSE 3 END""".stripMargin
    },

    // Deterministic corpus shuffle: the seeded permutation materialized as
    // a dense 1-based rank (zipWithIndex over the hash order — never a
    // single-partition row_number window).
    Gate("q65_corpus_shuffle")((s, dir) =>
      graft.operators.Sampling.shuffleWithRank(
        t(s, dir, "documents").select("doc_id"), "doc_id", seed = 42L)) {
      // Deterministic shuffle: rank = row number in (hash(seed ∥ NUL ∥ key),
      // key) order — the NUL separator byte is chr(0) in DuckDB.
      s"""SELECT doc_id,
         | CAST(row_number() OVER (
         |   ORDER BY ${duckHash("'42' || chr(0) || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC)
         |  AS BIGINT) AS shuffle_rank
         |FROM documents""".stripMargin
    },

    // Temperature-flattened mixture (τ=1/2): data-driven √-count quotas,
    // exact integer arithmetic end-to-end (IEEE sqrt + integer floor-div
    // — no libm drift), then the q56 hash-ordered per-source draw.
    Gate("q72_temperature_mixture")((s, dir) =>
      graft.operators.Sampling.temperatureMixture(t(s, dir, "documents"),
          "source", "doc_id", totalOut = 100)
        .select("source", "doc_id")) {
      // Temperature mixture: integer √-count weights, integer floor-division
      // quotas (// — DuckDB's exact integral div, like Spark's `div`), then
      // the q56 hash-rank draw. Quota stays internal (HUGEINT-safe).
      {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
         |           FROM documents WHERE source IS NOT NULL GROUP BY source),
         |w AS (SELECT source, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM c),
         |q AS (SELECT source, least(c, (100 * w) // (SELECT sum(w) FROM w)) AS quota
         |      FROM w),
         |r AS (SELECT source, doc_id,
         |       row_number() OVER (PARTITION BY source
         |                          ORDER BY $h ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
         |      FROM documents WHERE source IS NOT NULL)
         |SELECT r.source, r.doc_id FROM r JOIN q USING (source) WHERE rn <= quota""".stripMargin
    }
    },

    // Per-sequence document segment map (q50's layout → attention/loss
    // mask input): one row per (shard, sequence, doc) overlap with the
    // doc's in-sequence token range.
    Gate("q74_pack_segments")((s, dir) =>
      graft.operators.Packing.packSegments(t(s, dir, "documents"), "doc_id",
        Text.tokenCount(col("text")), shards = 4, maxTokens = 512)) {
      // Pack segments: q50's window cumsum + a generate_series explode over
      // the packs each doc overlaps, then pure in-sequence range arithmetic.
      s"""WITH $packCte,
         |p AS (SELECT doc_id, shard, tokens, start_offset,
         |  CAST(floor(CAST(start_offset AS DOUBLE)/512.0) AS BIGINT) AS p0,
         |  CAST(floor((CAST(start_offset AS DOUBLE)+tokens-1.0)/512.0) AS BIGINT) AS p1
         | FROM o WHERE tokens > 0),
         |e AS (SELECT doc_id, shard, tokens, start_offset,
         |  unnest(generate_series(p0, p1)) AS seq_id FROM p)
         |SELECT shard, seq_id, doc_id,
         | CAST(greatest(0, start_offset - seq_id*512) AS BIGINT) AS seg_start,
         | CAST(least(seq_id*512 + 511, start_offset + tokens - 1) - seq_id*512 AS BIGINT) AS seg_end
         |FROM e""".stripMargin
    },

    // EXACT-quota stratified split by language: first ⌊n·10%⌋ of each
    // stratum's seeded-hash order → test, next to ⌊n·20%⌋ → val, rest
    // train — guaranteed per-stratum proportions where q43's
    // hash-threshold split is only proportional in expectation. The
    // bucketed two-phase rank is invisible to the oracle (bucket = hash
    // prefix, so (bucket, hash, id) order IS (hash, id) order).
    Gate("q79_stratified_split")((s, dir) =>
      graft.operators.Sampling.stratifiedSplit(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", quotas = Seq("test" -> 10, "val" -> 10), seed = 7L)
        .select("doc_id", "lang", "split")) {
      // Stratified split: per-stratum rank in (hash(seed ∥ NUL ∥ id), id)
      // order vs integer-exact cumulative-floor quota bounds.
      s"""WITH r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY ${duckHash("'7' || chr(0) || CAST(doc_id AS VARCHAR)")} ASC,
         |             doc_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n
         | FROM documents)
         |SELECT doc_id, lang,
         | CASE WHEN rn <= (n * 10) // 100 THEN 'test'
         |      WHEN rn <= (n * 20) // 100 THEN 'val'
         |      ELSE 'train' END AS split
         |FROM r""".stripMargin
    },

    // Packing efficiency: per-shard utilization of q50's packed layout
    // (the padding-waste metric; the only waste under concat-then-chunk
    // is each shard's final partial sequence) plus the boundary-crossing
    // doc count a trainer masks across.
    Gate("q83_packing_efficiency")((s, dir) =>
      graft.operators.Packing.packingEfficiency(
        t(s, dir, "documents"), "doc_id",
        Text.tokenCount(col("text")), shards = 4, maxTokens = 512)) {
      // Packing efficiency: q50's pack CTE aggregated per shard; the q50
      // floor-div span formula decides boundary crossings.
      s"""WITH $packCte,
         |s AS (SELECT shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens,
         |  CAST(floor((CAST(max(start_offset + tokens) AS DOUBLE)-1.0)/512.0) AS BIGINT)
         |    + 1 AS n_sequences,
         |  CAST(sum(CASE WHEN
         |    CAST(floor((CAST(start_offset AS DOUBLE)+tokens-1.0)/512.0) AS BIGINT)
         |    - CAST(floor(CAST(start_offset AS DOUBLE)/512.0) AS BIGINT) + 1 > 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs
         | FROM o GROUP BY shard)
         |SELECT shard, n_docs, n_tokens, n_sequences, n_spanning_docs,
         | CASE WHEN n_sequences > 0
         |      THEN CAST(n_tokens AS DOUBLE)/CAST(n_sequences*512 AS DOUBLE)
         |      ELSE 0.0 END AS utilization
         |FROM s""".stripMargin
    },

    // Curriculum interleave: deterministic 3:2:1 weighted fair-queueing
    // order over three sources — integer virtual times (k·lcm/w), so the
    // whole training order is exact and engine-portable.
    Gate("q96_curriculum_order")((s, dir) =>
      graft.operators.Sampling.curriculumInterleave(
        t(s, dir, "documents").select("doc_id", "source"), "doc_id", "source",
        Map("src0" -> 3, "src1" -> 2, "src2" -> 1), seed = 7L)) {
      // Curriculum interleave: within-source seeded-hash rank k, virtual
      // time k·(6/w) (lcm(3,2,1)=6 → steps 2/3/6), global row_number over
      // (vt, source, id) — all integer arithmetic.
      s"""WITH d AS (SELECT doc_id, source FROM documents
         |  WHERE source IN ('src0','src1','src2')),
         |k AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY ${duckHash("'7' || chr(0) || CAST(doc_id AS VARCHAR)")} ASC,
         |             doc_id ASC) AS BIGINT) AS k FROM d),
         |v AS (SELECT doc_id, source,
         |  k * (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3 ELSE 6 END) AS vt
         |  FROM k)
         |SELECT doc_id, source,
         |  CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS BIGINT) AS position
         |FROM v""".stripMargin
    },

    // Length-bucketed batch assembly (padding minimizer): 16-token bins,
    // batches of 8 in seeded-hash order within each bin — per-row pad
    // waste < binWidth by construction.
    Gate("q101_length_batches")((s, dir) =>
      graft.operators.Sampling.lengthBucketBatches(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id",
        Text.tokenCount(col("text")), binWidth = 16, batchSize = 8,
        seed = 7L)) {
      // Length-bucket batches: the two-phase rank is invisible (prefix
      // buckets are the hash's top bits) → plain per-bin row_number over
      // (seeded hash, id).
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         | FROM documents),
         |r AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bin,
         |  row_number() OVER (PARTITION BY n_tokens // 16
         |    ORDER BY ${duckHash("'7' || chr(0) || CAST(doc_id AS VARCHAR)")} ASC,
         |             doc_id ASC) AS rn
         | FROM d)
         |SELECT doc_id, n_tokens, bin,
         | (rn - 1) // 8 AS batch_in_bin,
         | CAST((rn - 1) % 8 AS BIGINT) AS pos_in_batch
         |FROM r""".stripMargin
    },

    // Token-proportional Poisson (PPS) sample: ~100 docs drawn with
    // probability ∝ token count, inclusion tested in EXACT integer
    // arithmetic (hash·Σw < target·w·2^60) — no float threshold anywhere;
    // Horvitz-Thompson weights keep downstream stats unbiased.
    Gate("q105_pps_sample")((s, dir) =>
      graft.operators.Sampling.ppsSample(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id",
        Text.tokenCount(col("text")), targetRows = 100L, seed = 7L)) {
      // PPS sample: the exact-integer inclusion test in HUGEINT; prob and
      // HT weight as single IEEE divisions of exact integers.
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS w FROM documents),
         |wd AS (SELECT * FROM d WHERE w > 0),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM wd)
         |SELECT doc_id, w,
         | least(CAST(1.0 AS DOUBLE), CAST(w AS DOUBLE) * 100.0 / total) AS incl_prob,
         | 1.0 / least(CAST(1.0 AS DOUBLE), CAST(w AS DOUBLE) * 100.0 / total)
         |   AS ht_weight
         |FROM wd CROSS JOIN t
         |WHERE CAST(${duckHash("'7 ' || CAST(doc_id AS VARCHAR)")} AS HUGEINT) * total
         |   < CAST(100 AS HUGEINT) * w * 1152921504606846976""".stripMargin
    },

    // Data-constrained epoch plan: per-source full-epoch repeats +
    // remainder under a 1M-token budget, √-flattened integer quotas,
    // repeats capped at 4 (Muennighoff et al. 2023). All-integer — the
    // plan is bit-identical on any engine/partitioning.
    Gate("q110_epoch_plan")((s, dir) =>
      graft.operators.Sampling.epochPlan(t(s, dir, "documents"),
        "source", Text.tokenCount(col("text")),
        budgetTokens = 1000000L, maxEpochs = 4)) {
      // Epoch plan: ⌊√avail⌋ weights, HUGEINT cross-multiply for the quota
      // floor-division, cap at 4 epochs, integer div/mod decomposition.
      s"""WITH $epochPlanCte
         |SELECT source, avail AS avail_tokens, wt AS weight,
         | quota AS quota_tokens, planned AS planned_tokens,
         | planned // avail AS full_epochs, planned % avail AS remainder_tokens
         |FROM ep""".stripMargin
    },

    // Epoch stream: the plan materialized — every doc × its source's full
    // epochs, plus the seeded-prefix remainder pass. The training-order
    // input a data loader actually consumes; bit-reproducible on restart.
    Gate("q112_epoch_stream")((s, dir) =>
      graft.operators.Sampling.expandEpochs(t(s, dir, "documents"),
          "source", "doc_id", Text.tokenCount(col("text")),
          budgetTokens = 1000000L, maxEpochs = 4, seed = 7L)
        .withColumnRenamed("id", "doc_id")) {
      // Epoch stream: full passes via generate_series over the plan's
      // epoch count, remainder = seeded-hash-ordered prefix whose BEFORE
      // cumsum stays under remainder_tokens (crossed at most once).
      s"""WITH $epochPlanCte,
         |pl AS (SELECT source, planned // avail AS full_epochs,
         |        planned % avail AS remainder FROM ep),
         |d AS (SELECT doc_id, source,
         |   CAST(len(string_split(text,' ')) AS BIGINT) AS tokens
         |  FROM documents WHERE source IS NOT NULL),
         |fe AS (SELECT doc_id, d.source,
         |   unnest(generate_series(1, full_epochs)) AS epoch, tokens
         |  FROM d JOIN pl USING (source) WHERE full_epochs >= 1),
         |r0 AS (SELECT d.*, full_epochs, remainder,
         |   COALESCE(sum(tokens) OVER (PARTITION BY d.source
         |     ORDER BY ${duckHash("'7 ' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM d JOIN pl USING (source))
         |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch, tokens FROM fe
         |UNION ALL
         |SELECT doc_id, source, full_epochs + 1 AS epoch, tokens
         |FROM r0 WHERE bef < remainder""".stripMargin
    },

    // Stratified PPS: per-source expected-row targets (⌊n_g/10⌋, data-
    // driven) executed as ONE narrow pass — exact-integer per-group
    // inclusion, per-group HT weights; the corpus never shuffles.
    Gate("q115_group_pps")((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("w", Text.tokenCount(col("text")).cast("long"))
        .where(col("w") > 0)
      val targets = d.groupBy("source")
        .agg(expr("CAST(count(1) div 10 AS BIGINT)").as("target"))
      graft.operators.Sampling.ppsSampleByGroup(d, "source", "doc_id",
        col("w"), targets, seed = 7L)
    }) {
      // Stratified PPS: q105's HUGEINT inclusion with per-SOURCE totals and
      // data-driven ⌊n/10⌋ targets; per-group HT weights.
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS w
         | FROM documents WHERE len(string_split(text,' ')) > 0
         |   AND source IS NOT NULL),
         |tg AS (SELECT source, CAST(count(*) // 10 AS BIGINT) AS target
         |       FROM d GROUP BY source),
         |tot AS (SELECT source, CAST(sum(w) AS BIGINT) AS total
         |        FROM d GROUP BY source)
         |SELECT doc_id, source, w,
         | least(CAST(1.0 AS DOUBLE),
         |   CAST(w AS DOUBLE) * CAST(target AS DOUBLE) / total) AS incl_prob,
         | 1.0 / least(CAST(1.0 AS DOUBLE),
         |   CAST(w AS DOUBLE) * CAST(target AS DOUBLE) / total) AS ht_weight
         |FROM d JOIN tg USING (source) JOIN tot USING (source)
         |WHERE target > 0
         |  AND CAST(${duckHash("'7 ' || CAST(doc_id AS VARCHAR)")} AS HUGEINT) * total
         |    < CAST(target AS HUGEINT) * w * 1152921504606846976""".stripMargin
    },

    // Per-epoch curriculum composition: q112's epoch stream (every doc ×
    // its source's planned epochs + the seeded remainder pass) fed through
    // q96's integer-WFQ interleave — the complete "what order does the
    // trainer see" artifact. The interleave key is (doc, epoch), so each
    // epoch's copies reshuffle independently within their source; exact
    // 64-bit integers end to end, bit-reproducible on restart.
    Gate("q125_epoch_curriculum")((s, dir) => {
      val es = graft.operators.Sampling.expandEpochs(t(s, dir, "documents"),
          "source", "doc_id", Text.tokenCount(col("text")),
          budgetTokens = 1000000L, maxEpochs = 4, seed = 7L)
        .withColumn("uid", col("id") * 8 + col("epoch"))
      graft.operators.Sampling.curriculumInterleave(es, "uid", "source",
          Map("src0" -> 3, "src1" -> 2, "src2" -> 1), seed = 7L)
        .select(col("position"), col("source"), col("id").as("doc_id"),
          col("epoch"), col("tokens"))
    }) {
      // Epoch stream (q112's CTEs verbatim) composed with q96's WFQ rank —
      // the uid key (doc·8+epoch) reshuffles each epoch independently.
      s"""WITH $epochPlanCte,
         |pl AS (SELECT source, planned // avail AS full_epochs,
         |        planned % avail AS remainder FROM ep),
         |d AS (SELECT doc_id, source,
         |   CAST(len(string_split(text,' ')) AS BIGINT) AS tokens
         |  FROM documents WHERE source IS NOT NULL),
         |fe AS (SELECT doc_id, d.source,
         |   unnest(generate_series(1, full_epochs)) AS epoch, tokens
         |  FROM d JOIN pl USING (source) WHERE full_epochs >= 1),
         |r0 AS (SELECT d.*, full_epochs, remainder,
         |   COALESCE(sum(tokens) OVER (PARTITION BY d.source
         |     ORDER BY ${duckHash("'7 ' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM d JOIN pl USING (source)),
         |es AS (SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch, tokens FROM fe
         |  UNION ALL
         |  SELECT doc_id, source, full_epochs + 1 AS epoch, tokens
         |  FROM r0 WHERE bef < remainder),
         |eu AS (SELECT *, doc_id * 8 + epoch AS uid FROM es
         |  WHERE source IN ('src0','src1','src2')),
         |kr AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY ${duckHash("'7' || chr(0) || CAST(uid AS VARCHAR)")} ASC,
         |             uid ASC) AS BIGINT) AS k FROM eu),
         |v AS (SELECT *,
         |  k * (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3 ELSE 6 END) AS vt
         |  FROM kr)
         |SELECT CAST(row_number() OVER (ORDER BY vt, source, uid) AS BIGINT) AS position,
         |  source, doc_id, epoch, tokens
         |FROM v""".stripMargin
    },

    // General dyadic-temperature mixture at τ = 3/4 (k=3, m=2): weight =
    // ⌊sqrt(c)·sqrt(sqrt(c))⌋ — repeated CORRECTLY-ROUNDED square roots
    // instead of pow (which drifts between libms), so the dyadic grid is
    // the portable cross-engine temperature convention; the oracle
    // mirrors the exact association order. τ=1/2 rides q72.
    Gate("q126_tau_mixture")((s, dir) =>
      graft.operators.Sampling.temperatureMixtureTau(t(s, dir, "documents"),
          "source", "doc_id", totalOut = 120, tauNum = 3, tauDenLog2 = 2)
        .select("source", "doc_id")) {
      // Dyadic-temperature mixture at τ = 3/4: the weight mirrors the Spark
      // side's exact shape — sqrt(c)·sqrt(sqrt(c)), left-to-right, every op
      // correctly rounded in IEEE-754, so the doubles (hence floors) agree.
      {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
         |           FROM documents WHERE source IS NOT NULL GROUP BY source),
         |w AS (SELECT source, c,
         |       CAST(floor(sqrt(CAST(c AS DOUBLE)) * sqrt(sqrt(CAST(c AS DOUBLE)))) AS BIGINT) AS w
         |      FROM c),
         |q AS (SELECT source, least(c, (120 * w) // (SELECT sum(w) FROM w)) AS quota
         |      FROM w),
         |r AS (SELECT source, doc_id,
         |       row_number() OVER (PARTITION BY source
         |                          ORDER BY $h ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
         |      FROM documents WHERE source IS NOT NULL)
         |SELECT r.source, r.doc_id FROM r JOIN q USING (source) WHERE rn <= quota""".stripMargin
    }
    }
  )

  /** DuckDB twin of Sampling.epochPlan on `documents` grouped by source
    * (budget 1M tokens, maxEpochs 4 — q110/q112's constants), ending in
    * CTE `ep(source, avail, wt, quota, planned)`. */
  private lazy val epochPlanCte: String =
    s"""epa AS (SELECT source,
       |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS avail
       |  FROM documents WHERE source IS NOT NULL GROUP BY source),
       |epw AS (SELECT *, CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS wt
       |  FROM epa WHERE avail > 0),
       |epz AS (SELECT *, CAST(sum(wt) OVER () AS BIGINT) AS zz FROM epw),
       |epq AS (SELECT *,
       |  CAST((CAST(1000000 AS HUGEINT) * wt) // zz AS BIGINT) AS quota FROM epz),
       |ep AS (SELECT source, avail, wt, quota,
       |  least(quota, 4 * avail) AS planned FROM epq)""".stripMargin

  /** Source quotas shared by q56's query and oracle. */
  private val MixtureQuotas: Map[String, Int] =
    Map("src0" -> 12, "src1" -> 8, "src2" -> 5)

  /** DuckDB twin of Packing.packSequences' layout on `documents` (shards=4,
    * whitespace tokens): `d` (tokens, hash, shard) and `o` (+ the per-shard
    * cumsum start_offset). Shared by q50 and q74 — one hand-maintained
    * copy of the pack layout, like spanCte for the span family (q69
    * re-derives `d` with subword token counts and cannot share it). */
  private lazy val packCte: String = {
    val h = duckHash("CAST(doc_id AS VARCHAR)")
    s"""d AS (SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
       |  $h AS h, $h % 4 AS shard FROM documents),
       |o AS (SELECT doc_id, shard, tokens,
       |  CAST(COALESCE(sum(tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
       | FROM d)""".stripMargin
  }
}

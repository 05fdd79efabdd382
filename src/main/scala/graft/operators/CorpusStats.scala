package graft.operators

import graft.functions.{Hashing, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-level vocabulary statistics — the inputs to tokenizer training
 * (BPE merges start from token frequencies), IDF weighting and stop-token
 * selection in a training-data pipeline.
 *
 * Scale shape: token counting is one hash aggregation with map-side
 * combine (the shuffle carries one row per distinct token per partition,
 * not one per occurrence); document frequency deduplicates tokens per doc
 * BEFORE exploding, so its shuffle is bounded the same way. Top-k is a
 * TakeOrdered over the aggregated vocabulary — never a full sort of it.
 */
object CorpusStats {

  /** token → total occurrences across the corpus. */
  def tokenFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"))

  /** token → number of documents containing it (the IDF denominator). */
  def docFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(array_distinct(Text.tokens(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))

  /** Top-k vocabulary by occurrence count (ties → lexicographic), with
    * document frequency attached. */
  def topVocabulary(docs: DataFrame, textCol: String, k: Int): DataFrame =
    tokenFrequencies(docs, textCol)
      .join(docFrequencies(docs, textCol), Seq("token"))
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(k)

  /**
   * Bounded-state approximate token heavy hitters — the open-domain form
   * of [[topVocabulary]]. Exact counting holds one combiner per distinct
   * token per partition; over raw 100 TB n-grams/URLs the distinct set
   * itself is the memory problem. This runs ONE SpaceSaving sketch
   * (k-counter hard bound, [[graft.expressions.SpaceSavingAgg]]) over the
   * token stream: estimates only ever overcount (by ≤ inherited minima),
   * and every token with true frequency above that bound is guaranteed
   * present. Returns (token, estimate), count-desc.
   */
  def approxHeavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("token"))
      .agg(graft.expressions.SpaceSavingAgg.heavyHitters(col("token"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e._1").as("token"), col("e._2").as("estimate"))

  /**
   * Count-min sketch over the token stream, long shape: one (row, slot,
   * cnt) row per populated counter of the depth×width grid. Declarative
   * twin of [[graft.expressions.CountMinAgg]] (TrainingOpsSpec pins the
   * equivalence) — CMS merges by addition, so the whole sketch is a plain
   * aggregation and bit-identical under any partitioning, making the FULL
   * sketch oracle-able (unlike SpaceSaving, whose surviving-key set is
   * merge-order dependent). Point estimates for any later key: min over
   * rows of its slot counters — overcount-only. ≤ depth·width rows ever
   * shuffle (map-side combine); the token stream itself never does.
   */
  def cmsSketch(docs: DataFrame, textCol: String, depth: Int, width: Int): DataFrame = {
    val rows = (0 until depth).map { r =>
      val (a, b) = Hashing.coeffs(r)
      struct(lit(r).as("hash_row"),
        (Hashing.universalHash(Hashing.stableHash60(col("t")), a, b) % width).as("slot"))
    }
    docs.select(explode(Text.tokens(col(textCol))).as("t"))
      .select(explode(array(rows: _*)).as("rs"))
      .groupBy(col("rs.hash_row").as("hash_row"), col("rs.slot").as("slot"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Source-overlap matrix: pairwise shingle-set overlap BETWEEN corpus
   * sources — the census run before mixing crawls/dumps into one
   * training corpus (two sources with high overlap double-count their
   * shared text in every mixture weight; the fix is dedup across exactly
   * those pairs). One row per source pair with shared-shingle count, set
   * sizes, Jaccard and the overlap coefficient (a small curated set
   * fully contained in a big crawl shows overlap ≈ 1 at tiny Jaccard).
   *
   * Shapes: the shingle stream collapses to DISTINCT (source, hash) —
   * 8-byte keys, one aggregation — then rides
   * [[Dedup.overlapPairsFromHashed]]'s posting-list expansion, whose
   * buckets are bounded by the SOURCE count (tens), not document count:
   * there is no cap to tune and no skew to guard. Output cardinality is
   * sources², a driver-readable report at any corpus size.
   */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
                    n: Int): DataFrame =
    Dedup.overlapPairsFromHashed(
      Dedup.hashedShingles(docs, groupCol, textCol, n)
        .dropDuplicates("id", "h"),
      minOverlap = 0.0, maxBucket = Int.MaxValue)
      .withColumnsRenamed(Map("id_a" -> "src_a", "id_b" -> "src_b"))

  /**
   * Top-k characteristic terms per document by tf·idf, with idf in exact
   * ratio form N/df (no log: the usual log damping is a monotone transform
   * that cannot change any ranking, and libm `log` is not bit-identical
   * across engines — the ratio keeps the score exact integer-ratio
   * arithmetic, externally verifiable). Shapes: per-doc term counts are
   * one aggregation; doc frequencies join in by token (aggregated
   * cardinality); the corpus size joins as a broadcast one-row frame (no
   * driver-side action); top-k rides WindowGroupLimit.
   */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("id", "token")
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(docFrequencies(docs, textCol), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("doc_freq"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("token"), col("score"))
  }

  /**
   * Per-document out-of-vocabulary rate against the corpus's own top-k
   * vocabulary — the coverage check run before committing to a tokenizer
   * vocab (high OOV ⇒ the vocab under-serves that document/language
   * slice). Tie-break at the vocab cutoff is deterministic (count desc,
   * token asc — same rule as [[topVocabulary]]).
   *
   * Scale shape: the vocab is aggregated cardinality (k rows) and joins
   * the exploded token stream as a BROADCAST — the occurrence stream never
   * shuffles for the lookup, only for the final per-doc aggregation.
   */
  /**
   * Corpus data card: the one-row release summary a data team attaches to
   * a dataset drop — document/token totals, length distribution, exact
   * duplicate rate (via content fingerprints), language mix and mean
   * quality, all from ONE pass over the corpus plus one
   * aggregated-cardinality pass for the duplicate rate. Every number is
   * deterministic (DECIMAL means, exact counts) so two releases of the
   * same corpus produce byte-identical cards.
   *
   * Output (single row): n_docs, n_tokens, avg_tokens, p50_tokens,
   * max_tokens, distinct_fingerprints, dup_rate, n_langs, top_lang,
   * avg_quality.
   */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.operators.Aggregates.exactAvg
    val enriched = docs.select(
      col(idCol).as("id"),
      Text.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      Text.fingerprint(col(textCol)).as("fp"),
      Text.langIdHeuristic(col(textCol)).as("lang"),
      Text.docQualityScore(col(textCol)).as("quality"))
    val langTop = enriched.groupBy("lang").count()
      .orderBy(col("count").desc, col("lang").asc).limit(1)
      .select(col("lang").as("top_lang"))
    val base = enriched.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      exactAvg(col("n_tokens")).as("avg_tokens"),
      expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
      max(col("n_tokens")).as("max_tokens"),
      countDistinct(col("fp")).as("distinct_fingerprints"),
      countDistinct(col("lang")).as("n_langs"),
      exactAvg(col("quality")).as("avg_quality"))
    base
      // empty-corpus guard (round-4 advice): n_docs = 0 would make dup_rate
      // 0/0 → null, and a crossJoin with the then-EMPTY langTop would drop
      // the row entirely — a caller reading .head() on an empty release
      // crashes instead of seeing zeros. Left join on a constant key keeps
      // the one base row alive (top_lang null when there is no corpus).
      .withColumn("dup_rate",
        when(col("n_docs") > 0,
          (col("n_docs") - col("distinct_fingerprints")).cast("double") /
            col("n_docs").cast("double")).otherwise(lit(0.0)))
      .withColumn("__k", lit(1))
      .join(langTop.withColumn("__k", lit(1)), Seq("__k"), "left")
      .drop("__k")
  }

  /**
   * Exact per-group quantiles via a cumulative VALUE HISTOGRAM — the
   * exact tier beside the bottom-k sketch
   * ([[graft.expressions.BottomKSketchAgg]]): when the value domain is
   * bounded (token counts, char lengths, integer scores), the histogram
   * has one row per DISTINCT (group, value) pair, so exact percentiles
   * over 100 TB cost one map-side-combined aggregation plus one window
   * over histogram-sized frames — never a corpus sort, and never a
   * whole-group buffer (what Spark's exact `percentile` aggregate holds
   * per group; `percentile_approx` bounds state but gives up exactness).
   *
   * Quantile convention: nearest-rank-lower — the value whose 1-based
   * rank is ⌊(n−1)·num/den⌋ + 1 — the SAME integer convention as
   * [[graft.expressions.BottomKSketchAgg.quantileFromSample]], so the
   * sketch estimate and the exact value are directly comparable; all
   * rank arithmetic is exact integer (the floorDiv convention). The
   * pick per quantile is `min(value WHERE cumulative ≥ rank)` — correct
   * because the cumulative count is monotone in the value.
   *
   * Output: one row per group — groupCol, one column per requested
   * (name, num, den) quantile, and `n` (group cardinality; total weight
   * when `weightCol` is set).
   *
   * `weightCol` generalizes to WEIGHTED quantiles over the same
   * machinery: the histogram accumulates Σweight instead of row counts,
   * so "the doc length below which half my TOKENS sit" — the
   * packing-budget question — costs the same two exchanges as the
   * unweighted census (rank runs over cumulative weight; weights must
   * be non-negative integers, the repo's exact-arithmetic contract).
   */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            qs: Seq[(String, Int, Int)],
                            weightCol: Option[String] = None): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, num, den) =>
      num >= 0 && den > 0 && num <= den })
    // Contract enforcement (both failure modes are silent corruptions
    // otherwise): a NULL value — or a NULL weight — would form a
    // histogram row that inflates __n/__cum (shifting every rank) while
    // carrying no selectable mass, so both are excluded from the census
    // (the same rows DuckDB's percentile machinery ignores); a NEGATIVE
    // weight would break the cumulative-count monotonicity the
    // min-where-cum≥rank pick relies on, so it fails loudly in-plan
    // (the NULL exclusion runs first, so the guard can only fire on a
    // genuinely negative weight — never on a NULL three-valued compare).
    val mass = weightCol.map { c =>
      sum(when(col(c) >= 0, col(c).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"exactQuantilesByGroup: negative weight in '$c': "),
          col(c).cast("string")))))
    }.getOrElse(count(lit(1)))
    val nonNull = df.where(col(valueCol).isNotNull)
    val hist = weightCol.fold(nonNull)(c => nonNull.where(col(c).isNotNull))
      .groupBy(col(groupCol), col(valueCol).cast("long").as("__v"))
      .agg(mass.as("__c"))
    val cum = hist
      .withColumn("__cum",
        sum(col("__c")).over(Window.partitionBy(groupCol).orderBy("__v")))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCol)))
    val picks = qs.map { case (name, num, den) =>
      val scaled = (col("__n") - lit(1L)) * lit(num.toLong)
      val rank = call_function("div",
        scaled - pmod(scaled, lit(den.toLong)), lit(den.toLong)) + lit(1L)
      min(when(col("__cum") >= rank, col("__v"))).as(name)
    }
    cum.groupBy(groupCol)
      .agg(picks.head, picks.tail :+ max(col("__n")).as("n"): _*)
  }

  /**
   * Assign each row a BAND by comparing its value to its group's exact
   * quantile edges — the CCNet corpus-splitting shape (Wenzek et al.
   * 2020 §4.3 split each language's corpus into head/middle/tail by LM
   * score and sample preferentially from the head), generalized to any
   * integer score and any edge list. `edges` are ascending quantile
   * fractions ((name, num, den) — the [[exactQuantilesByGroup]]
   * nearest-rank-lower convention); `bands` is one label longer: a row
   * lands in `bands(i)` for the FIRST edge with value ≤ edge_i, and in
   * the last band above every edge — so with edges (p33, p66) and bands
   * (tail, middle, head), `head` is value > p66. Ties share a band by
   * construction (the comparison is against the group-wide edge VALUE,
   * not a rank), so the assignment is deterministic on any partitioning.
   * Rows with a NULL value get a NULL band (they are invisible to the
   * edge census too — the [[exactQuantilesByGroup]] contract).
   *
   * Scale shape: the edges ride [[exactQuantilesByGroup]]'s two
   * histogram-cardinality exchanges, then broadcast back as a
   * groups-cardinality frame — the corpus itself never shuffles and
   * never sorts (contrast a rank-based tercile: a per-group row_number
   * puts a whole group — a language at 100 TB — in one partition). The
   * input's lineage is read twice (edge census + assignment); at scale
   * the caller hands a MATERIALIZED score table (the CCNet score file,
   * here the staged fluency census), exactly like the LM count tables.
   */
  def bandByGroupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                           edges: Seq[(String, Int, Int)], bands: Seq[String],
                           bandCol: String = "band"): DataFrame = {
    require(bands.size == edges.size + 1,
      s"need ${edges.size + 1} band labels for ${edges.size} edges, got ${bands.size}")
    require(edges.nonEmpty, "need at least one edge")
    val ascending = edges.sliding(2).forall {
      case Seq((_, n1, d1), (_, n2, d2)) => n1.toLong * d2 < n2.toLong * d1
      case _ => true
    }
    require(ascending, s"edge fractions must be strictly ascending: $edges")
    val th = exactQuantilesByGroup(df, groupCol, valueCol, edges)
      .select(col(groupCol) +: edges.map { case (nm, _, _) => col(nm) }: _*)
    bandByEdges(df, th, groupCol, valueCol, edges.map(_._1), bands, bandCol)
  }

  /**
   * Band assignment under a FROZEN edges frame — the streamable form of
   * [[bandByGroupQuantiles]] (which derives the edges from the corpus it
   * bands, a ranking no admission stream can do). `edgesDf` holds one
   * row per group with the ascending edge-value columns `edgeCols`
   * (typically a [[exactQuantilesByGroup]] output materialized at
   * calibration time); the assignment is then a pure per-row function of
   * the frozen state, so batch and streaming replays agree bit-for-bit —
   * the same freeze-the-threshold contract as
   * [[NgramLm.fluencyThresholdFilter]]. A row whose group has no edge
   * row, or whose value is NULL, gets a NULL band.
   */
  def bandByEdges(df: DataFrame, edgesDf: DataFrame, groupCol: String,
                  valueCol: String, edgeCols: Seq[String], bands: Seq[String],
                  bandCol: String = "band"): DataFrame = {
    require(edgeCols.nonEmpty, "need at least one edge column")
    require(bands.size == edgeCols.size + 1,
      s"need ${edgeCols.size + 1} band labels for ${edgeCols.size} edges, got ${bands.size}")
    val v = col(valueCol)
    // the first edge ≥ value picks the band; NULL value or NULL edges (a
    // group absent from the frozen frame joins as all-null) give NULL —
    // the final `when(isNull(e_last))` arm keeps the unknown-group case
    // out of the top band
    val chain = edgeCols.zip(bands.init).foldLeft(when(v.isNull, lit(null))) {
      case (c, (nm, label)) => c.when(v <= col(nm), lit(label))
    }.when(col(edgeCols.last).isNull, lit(null)).otherwise(lit(bands.last))
    // left join: a group whose values are ALL null has no edge row (no
    // histogram mass) — its rows still flow through with a null band
    df.join(broadcast(edgesDf), Seq(groupCol), "left")
      .select(scala.collection.immutable.ArraySeq.unsafeWrapArray(df.columns.map(col)) :+ chain.as(bandCol): _*)
  }

  /**
   * Bigram-novelty quality score — the exact-arithmetic cousin of LM
   * perplexity filtering (CCNet-style quality stacks drop documents whose
   * token transitions the corpus has never seen; gibberish and mojibake
   * score high). Per document: bigram count, the fraction of bigram
   * OCCURRENCES whose corpus-wide count is ≤ `rareThreshold`
   * (rare_rate), and the mean corpus count of its bigrams — all exact
   * integer/ratio arithmetic (no log: libm drifts across engines; the
   * rare-rate threshold is the monotone decision the perplexity score
   * would feed anyway).
   *
   * Scale shape: bigram occurrences explode narrow; the corpus bigram
   * table is ONE hash aggregation with map-side combine (one row per
   * distinct bigram per partition); the score join is bigram-keyed
   * (aggregated cardinality on the build side) and the per-doc reduction
   * is one more keyed aggregation. Same family as tf-idf — nothing
   * quadratic, nothing driver-side. Documents with < 2 tokens have no
   * bigrams and emit no row (nothing to score).
   */
  def bigramNovelty(docs: DataFrame, idCol: String, textCol: String,
                    rareThreshold: Long = 1L): DataFrame = {
    import graft.operators.Aggregates.exactAvg
    val occ = docs.select(col(idCol).as("id"),
      explode(Text.shingles(col(textCol), 2)).as("bigram"))
    val counts = occ.groupBy("bigram").agg(count(lit(1)).as("c"))
    occ.join(counts, Seq("bigram"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(when(col("c") <= rareThreshold, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("rare_rate"),
        exactAvg(col("c")).as("mean_bigram_count"))
  }

  def oovStats(docs: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    // rank by occurrence count only — topVocabulary's doc-frequency join
    // would cost a second corpus scan + aggregation without changing the
    // cutoff (the ranking ignores doc_freq)
    val vocab = tokenFrequencies(docs, textCol)
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("__in_vocab"))
    docs.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("oov_count"))
      .withColumn("oov_rate",
        col("oov_count").cast("double") / col("n_tokens").cast("double"))
  }

  // --------------------------------------------- importance-weighted selection

  /**
   * Hashed n-gram feature distribution table for importance-weighted data
   * selection (the DSIR recipe — Xie et al., "Data Selection for Language
   * Models via Importance Resampling", 2023; public knowledge): word n-gram
   * features fold into `buckets` hash buckets, and the table holds the
   * TARGET (rows where `targetCol` is true — the in-domain exemplar set)
   * and RAW (every row) feature counts per bucket. Features count with
   * MULTIPLICITY ([[Text.shingles]], not the distinct set) — the hashed
   * multinomial is DSIR's model, and a document that repeats an in-domain
   * phrase is more in-domain, not equally so.
   *
   * One map-side-combined aggregation; output cardinality ≤ `buckets`
   * regardless of corpus size — at 100 TB the table is still a broadcast.
   * Buckets the corpus never emits are simply absent (consumers smooth
   * them with add-α at read time).
   */
  def hashedFeatureTable(docs: DataFrame, targetCol: String, textCol: String,
                         n: Int = 2, buckets: Int = 4096): DataFrame =
    docs.select(col(targetCol).cast("boolean").as("__t"),
        explode(Text.shingles(col(textCol), n)).as("f"))
      .select(col("__t"),
        pmod(Hashing.stableHash60(col("f")), lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("tgt_count"),
        count(lit(1)).as("raw_count"))

  /** Doc-id → hashed feature stream (explode_outer so featureless docs —
    * shorter than n tokens — keep one null-bucket row instead of
    * vanishing). Shared by [[targetAffinity]] and [[importanceWeights]]. */
  private def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, buckets: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode_outer(Text.shingles(col(textCol), n)).as("f"))
      .select(col("id"), when(col("f").isNotNull,
        pmod(Hashing.stableHash60(col("f")), lit(buckets.toLong))).as("bucket"))

  /**
   * Per-document target-affinity masses over the feature table: exact
   * integer sums Σ_f∈doc tgt_count(f) and Σ_f∈doc raw_count(f) plus the
   * doc's feature count — the engine-portable core of the importance
   * weight (the float log-ratio itself is [[importanceWeights]]; these
   * integers are what an external engine can re-derive bit-for-bit).
   * Featureless docs emit a zero row. The table broadcasts (≤ `buckets`
   * rows); the only corpus shuffle is the doc-keyed regroup.
   */
  def targetAffinity(docs: DataFrame, featureTable: DataFrame, idCol: String,
                     textCol: String, n: Int = 2, buckets: Int = 4096): DataFrame =
    hashedFeatures(docs, idCol, textCol, n, buckets)
      .join(broadcast(featureTable), Seq("bucket"), "left")
      .groupBy("id")
      .agg(
        sum(when(col("bucket").isNotNull, 1L).otherwise(0L)).as("n_feats"),
        sum(coalesce(col("tgt_count"), lit(0L))).as("tgt_mass"),
        sum(coalesce(col("raw_count"), lit(0L))).as("raw_mass"))

  /**
   * DSIR importance weight per document: log λ(d) = Σ_f∈doc
   * [ln p̂_tgt(f) − ln p̂_raw(f)] under the add-α-smoothed hashed
   * multinomial (α on every one of the `buckets` cells, so absent buckets
   * get the uniform-smoothing log-ratio, not zero). Per-feature log-ratios
   * are libm doubles — deliberately NOT oracle-hashed (the exact-integer
   * core is gated via [[targetAffinity]]); the per-doc SUM runs in
   * DECIMAL, so weights are bit-identical on any partitioning — same
   * corpus, same weights, any cluster. Featureless docs weigh 0.
   *
   * The bucket-level log-ratio is computed ONCE on the `buckets`-row
   * table, then broadcast into the corpus-side stream — the corpus pass
   * stays a join + one doc-keyed aggregation, no per-occurrence logs.
   */
  def importanceWeights(docs: DataFrame, featureTable: DataFrame, idCol: String,
                        textCol: String, n: Int = 2, buckets: Int = 4096,
                        alpha: Double = 0.5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    val totals = featureTable
      .agg(sum("tgt_count").as("__T"), sum("raw_count").as("__R"))
    val denomT = col("__T").cast("double") + lit(alpha * buckets)
    val denomR = col("__R").cast("double") + lit(alpha * buckets)
    val scored = featureTable.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("tgt_count").cast("double") + alpha) / denomT) -
          log((col("raw_count").cast("double") + alpha) / denomR)).cast(dec).as("__lr"))
    val absentLr = (log(lit(alpha) / denomT) - log(lit(alpha) / denomR)).cast(dec)
    hashedFeatures(docs, idCol, textCol, n, buckets)
      .join(broadcast(scored), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"), when(col("bucket").isNotNull,
        coalesce(col("__lr"), absentLr)).as("__lr"))
      .groupBy("id")
      .agg(coalesce(sum(col("__lr")), lit(0).cast(dec)).cast("double").as("log_weight"))
  }

  /** Deterministic selection on the weights: top `nOut` docs by log-weight,
    * ties → smallest id (a TakeOrdered, never a global sort). DSIR proper
    * resamples with Gumbel noise; a seeded-hash Gumbel can be layered on,
    * but the ranked cut is the reproducible default. */
  def topByWeight(weights: DataFrame, nOut: Int): DataFrame =
    weights.orderBy(col("log_weight").desc, col("id").asc).limit(nOut)

  /**
   * Unigram distribution drift between two corpora — the census a pipeline
   * runs BEFORE trusting a new crawl snapshot, after a cleaning change, or
   * between a training mix and a target domain: which tokens moved, and by
   * how much of the total-variation distance.
   *
   * Exact integer arithmetic throughout: with per-corpus counts c_a, c_b
   * and totals N_a, N_b, the per-token TV contribution is
   * |c_a/N_a − c_b/N_b| = |c_a·N_b − c_b·N_a| / (N_a·N_b) — the NUMERATOR
   * `drift_num` is computed in DECIMAL(38,0) (a 100 TB corpus pushes
   * c·N past 2^63; a double would silently lose low bits and make the
   * ranking partitioning-dependent). TV distance itself =
   * Σ drift_num / (2·N_a·N_b) — one IEEE division for the caller; the
   * ranking and the gate stay division-free.
   *
   * Output: the `k` most-drifted tokens (ties → token ascending) with
   * both counts, both totals and the exact numerator. Shape: two map-side
   * combined token aggregations, one vocabulary-keyed full-outer join
   * (absent tokens count 0 on the missing side), totals as one-row
   * broadcasts, TakeOrdered for the top-k — never a global sort of the
   * vocabulary.
   */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String,
                 k: Int): DataFrame = {
    val dec = "decimal(38,0)"
    def counts(df: DataFrame, as: String) =
      df.select(explode(Text.tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(as))
    val ca = counts(a, "count_a")
    val cb = counts(b, "count_b")
    // empty-side totals coalesce to 0 (sum over nothing is null) — an
    // empty corpus degenerates to zero totals/numerators instead of
    // null-poisoning every drift row
    val na = ca.agg(coalesce(sum(col("count_a")), lit(0L)).as("total_a"))
    val nb = cb.agg(coalesce(sum(col("count_b")), lit(0L)).as("total_b"))
    ca.join(cb, Seq("token"), "full_outer")
      .na.fill(0L, Seq("count_a", "count_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("drift_num",
        abs(col("count_a").cast(dec) * col("total_b").cast(dec) -
            col("count_b").cast(dec) * col("total_a").cast(dec)))
      .orderBy(col("drift_num").desc, col("token").asc)
      .limit(k)
      .select("token", "count_a", "count_b", "total_a", "total_b", "drift_num")
  }
}

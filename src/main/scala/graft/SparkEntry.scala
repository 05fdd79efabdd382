package graft

import graft.gates._
import graft.functions.{Enrich, Text}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver contract: one gate per implemented operator from SURVEY.md §2
 * (plus the training-data-pipeline extensions), each a [[graft.gates.Gate]]
 * pairing the engine frame with its DuckDB twin on the same parquet
 * tables. The gates are defined in per-family files under `graft.gates`;
 * this object keeps what several families share — the table reader, the
 * per-session memo with the staged frames built on it, the shared oracle
 * SQL fragments — and serves the registry as `queries` and `oracleSql`.
 *
 * Determinism rules that make the oracle hash-match possible:
 *  - double sums/avgs go through DECIMAL(28,6) (order-independent) on BOTH
 *    engines — see graft.operators.Aggregates.exactSum;
 *  - rounding uses floor(x*10^s+0.5)/10^s (pure IEEE-754) instead of the
 *    engines' divergent round() builtins;
 *  - hashes are md5-derived (bit-identical everywhere), not murmur3;
 *  - scalar expressions keep the exact same association order in Scala and
 *    SQL, so every double matches bit-for-bit;
 *  - raw timestamps are never output (Spark µs vs DuckDB ns) — epoch
 *    seconds / dates instead;
 *  - fractional powers use nested IEEE sqrt (CORRECTLY ROUNDED, so
 *    bit-identical across engines), never pow (no rounding guarantee;
 *    libms drift) — any dyadic exponent k/2^m is reachable this way
 *    (q126; Sampling.tauWeight).
 */
object SparkEntry {

  /**
   * Table reader, robust to both vintages of the driver's `events.ts`
   * physical type:
   *  - nanosecond parquet (rounds ≤4) reads as BIGINT under the sessions'
   *    `spark.sql.legacy.parquet.nanosAsLong` (Spark has no ns timestamp —
   *    PARQUET_TYPE_ILLEGAL without the flag) and is converted to a µs
   *    timestamp here (integer DIV — no double rounding; the data is
   *    µs-precision so the truncation is lossless);
   *  - microsecond parquet (round 5+) reads as TIMESTAMP_NTZ natively and
   *    is cast to the session timestamp type — under the UTC session
   *    contract (GraftSession) the wall-clock reinterpretation is the
   *    identity, and DuckDB reads the same file as its (naive) TIMESTAMP,
   *    so both engines see identical values.
   */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else df.withColumn("ts", col("ts").cast("timestamp"))
    } else df
  }

  // ---------------------------------------------------------------- helpers

  /**
   * Deterministic synthetic weather columns derived from `events` — maps the
   * reference's 16-field reading (SURVEY §1.2) onto the driver's test tables
   * so every enrichment family (P6-P17) is exercised across all its branches
   * (value spans 0.01..490 → temp −5..44 °C, precip 0..61 mm, wind 0..98
   * km/h, vis 0..10 km, uv 0..12). The heat index, which a station
   * reports, is derived here; the rest is the shared enrichment chain.
   */
  private def syntheticWeather(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("ts"),
      when(col("user_id") % 5 === 0, "Mumbai")
        .when(col("user_id") % 5 === 1, "Delhi")
        .when(col("user_id") % 5 === 2, "Bangalore")
        .when(col("user_id") % 5 === 3, "Chennai")
        .otherwise("Kolkata").as("city"),
      (col("value") / 10.0 - 5.0).as("temperature_celsius"),
      (col("value") % 100.0).as("humidity_percent"),
      (col("value") / 5.0 + 940.0).as("pressure_hpa"),
      (col("value") / 5.0).as("wind_speed_kmh"),
      (col("value") / 8.0).as("precipitation_mm"),
      (col("value") / 49.0).as("visibility_km"),
      floor(col("value") / 40.0).cast("int").as("uv_index"))
      .withColumn("heat_index_celsius",
        Enrich.heatIndex(col("temperature_celsius"), col("humidity_percent")))

  /** Per-session memo of the shared artifacts, keyed by (session,
    * sf-dir, artifact key): the staged frames, the capstone run and the
    * perceptron model. */
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), AnyRef]
  private def memoized[A <: AnyRef](s: SparkSession, dir: String, key: String)(
      build: => A): A = {
    // evict entries of stopped sessions — otherwise the map pins dead
    // SparkSessions (and their cached blocks) for the JVM lifetime
    memo.keys.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    memo.getOrElseUpdate((s, dir, key), build).asInstanceOf[A]
  }

  /**
   * Shared enrichment layer, materialized once per (session, sf-dir): seven
   * gate queries consume the same enriched frame, and without sharing, each
   * recomputes the full lineage (scan + 30-column expression tree). This is
   * the production shape too — a staging table computed once, read by every
   * downstream aggregate. persist() changes no semantics (the frame is
   * deterministic), only the number of times the lineage runs.
   */
  private def staged(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame =
    memoized(s, dir, key)(build.persist())

  /** Materialize every staged frame in dependency order, returning
    * (short-key, build seconds). Bench reports these as explicit `stg`
    * rows and then times consumer queries at STEADY STATE — two rounds
    * running, alphabetical first-consumer placement moved the staging
    * cost between query rows (q18 ↔ q103) and read as phantom
    * regressions. The keys: enr=enriched, shg=shingles, sig=minhash
    * sigs, cnd=LSH candidates, jac=jaccard pairs, spn=span ranges,
    * ovp=overlap pairs, win=winnowed fingerprints, emb=embedding
    * near-dup pairs, lmc=n-gram LM count tables. `count()` on the
    * persisted frame forces the full columnar cache build (the real
    * once-per-deployment cost). */
  def stageTimings(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def tm(key: String)(f: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      f.count()
      key -> ((System.nanoTime() - t0) / 1e9)
    }
    // non-frame artifact build (the perceptron model memo): time the
    // eager construction itself — there is no frame to count()
    def tmU(key: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      f
      key -> ((System.nanoTime() - t0) / 1e9)
    }
    Seq(
      tm("enr")(enrichedFullShared(s, dir)),
      tm("shg")(hashedShinglesShared(s, dir)),
      tm("sig")(minhashSigsShared(s, dir)),
      tm("cnd")(lshCandidatesShared(s, dir)),
      tm("jac")(jaccardPairsShared(s, dir)),
      tm("spn")(spanRangesShared(s, dir)),
      tm("ovp")(overlapPairsShared(s, dir)),
      tm("win")(winnowedShared(s, dir)),
      tm("emb")(embNearDupShared(s, dir)),
      // pqe/pqi = the PQ index artifacts (corpus code table, composed
      // IVF-PQ index) — ingest-time builds the probe gates read
      tm("pqe")(pqCodesShared(s, dir)),
      tm("pqi")(ivfPqIndexShared(s, dir)),
      tm("lmc")(lmCountsShared(s, dir)),
      tm("lm5")(lmCounts5Shared(s, dir)),
      // lmf = the per-doc fluency score table (rescores the corpus
      // against the already-staged lmc model — the CCNet score file)
      tm("lmf")(lmFluencyShared(s, dir)),
      // pcm = the distilled-classifier TRAINING (one corpus scan under
      // the 21-rule battery + the bounded driver fit) — the model every
      // classifier gate probes; memoized per (session, sf-dir), so this
      // row carries the one-shot cost and q137-q139/q147 report the
      // per-probe marginal (the PQ pqe/pqi rationale)
      tmU("pcm")(pcptModel(s, dir)),
      // cap = the composed CorpusPipeline run (q127/q128): `run` executes
      // eagerly inside the memo build, so this row carries the whole
      // pipeline cost and the two gate rows report marginal reads
      tm("cap")(capstoneShared(s, dir)._1))
  }

  /** Unpersist and forget every memoized artifact of `s`. Callers that
    * know they are past the last consumer (Verify/Bench mains, a finished
    * pipeline run) release explicitly instead of pinning cache blocks for
    * the session's lifetime — at real scale a staging table's memory is
    * reclaimed the moment its final consumer commits. */
  def releaseStaged(s: SparkSession): Unit = {
    memo.keys.filter(_._1 == s).foreach { k =>
      memo.remove(k).foreach {
        case df: org.apache.spark.sql.Dataset[_] => df.unpersist(blocking = false)
        // the capstone result is localCheckpoint-backed (no persist to
        // release; its blocks age out with the session) and the perceptron
        // model is a driver-side value: dropping the entry is the release
        case _ => ()
      }
    }
    // the LM scorer's per-model checkpoint cache (round 12) — entries are
    // localCheckpoint-backed like the capstone's; dropping them lets the
    // blocks age out with their RDDs
    graft.operators.NgramLm.clearModelCache(s)
  }

  private[graft] def enrichedFullShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "enriched")(Enrich.chain(syntheticWeather(t(s, dir, "events")), "ts"))
  private[graft] def enrichedShared(s: SparkSession, dir: String): DataFrame =
    enrichedFullShared(s, dir).drop("ts", "city")

  /** Dedup staging frames, same production rationale: signatures, candidate
    * pairs and verified near-dup pairs are materialized artifacts of a dedup
    * pipeline — computed once, consumed by banding (q20), verification
    * (q39), grouping (q36) and the operators' own gates. */
  private[graft] def hashedShinglesShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "shingles")(
      Dedup.hashedShingles(t(s, dir, "documents"), "doc_id", "text", n = 3))
  // NOTE (round 3): the raw token-hash stream is deliberately NOT staged.
  // Persisting the fully exploded per-occurrence stream (millions of tiny
  // rows) costs more to materialize than its consumers save by not
  // recomputing the narrow scan+explode+md5 (driver bench r2: q21 went
  // 1.1 s → 11.5 s paying the cache write). Staging is for AGGREGATED
  // artifacts — signatures, candidate pairs — which are corpus-cardinality,
  // not token-cardinality. At 100 TB the same rule holds: a persisted token
  // stream is a cluster-wide memory/disk flood for zero algorithmic benefit.
  // round 12: the sig build is the compiled per-document pass (zero
  // exchanges, one documents scan) instead of a groupBy over the staged
  // shingle stream — same frame bit-for-bit (HashingSpec), but the build
  // no longer shuffles token-cardinality rows; shg keeps serving the
  // jaccard/overlap/candidate consumers that need shingle identity
  private[graft] def minhashSigsShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "mhsig")(
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text",
        n = 3, numHashes = 16))
  private[graft] def lshCandidatesShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "mhcands")(
      Dedup.minhashLshCandidates(minhashSigsShared(s, dir), numHashes = 16, bands = 4))
  private[graft] def jaccardPairsShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "jaccard")(
      Dedup.jaccardPairsFromHashed(hashedShinglesShared(s, dir),
        threshold = 0.5, maxBucket = Int.MaxValue))
  // ONE definition of the end-to-end minhash near-dup pipeline — q39 gates
  // it, q61 wraps it; a parameter change here moves both in lockstep
  private[graft] def minhashNearDupShared(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardVerify(lshCandidatesShared(s, dir), t(s, dir, "documents"),
      "doc_id", "text", n = 3, threshold = 0.5)
  /** q62's merged duplicated-span ranges (uncapped) — unlike the
    * positional span stream (NOT staged, see the token-stream note above),
    * the post-merge intervals are a range-cardinality AGGREGATED artifact,
    * exactly what the staging rule permits; shared by q62's gate and
    * q73's edit join (a production cleaner materializes the ranges table
    * once and both reports and cuts from it). */
  private[graft] def spanRangesShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "spanranges")(
      Dedup.duplicatedSpanRanges(t(s, dir, "documents"), "doc_id", "text",
        window = SpanWindow, maxBucket = Int.MaxValue))

  /** Unfiltered scored pair frame (all sharing pairs with jaccard/overlap
    * stats) — pair-cardinality artifact shared by q103 (containment
    * filter) and q114 (threshold sweep), the way q18/q36 share the
    * jaccard pairs. */
  private[graft] def overlapPairsShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "ovpairs")(
      Dedup.overlapPairsFromHashed(hashedShinglesShared(s, dir),
        minOverlap = 0.0, maxBucket = Int.MaxValue))

  /** Winnowed fingerprint table (q107/q108's k=FpK, w=FpW) — a distinct
    * (id, pos, h) AGGREGATED artifact at 2/(w+1) of span-stream density,
    * staging-rule compliant; a production passage-dedup pipeline
    * materializes the fingerprint index once and both the index gate and
    * the pair detector read it. */
  private[graft] def winnowedShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "winnow")(
      Dedup.winnowedFingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = FpK, w = FpW))

  /** Embedding near-dup pair frame (q23's parameters) — pair-cardinality
    * artifact shared by q23 and q67's component grouping, like the jaccard
    * pairs shared by q18/q36. */
  private[graft] def embNearDupShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "embpairs") {
      val em = t(s, dir, "embeddings")
      Similarity.embeddingNearDupPairs(em, em.where(col("vec_id") % 50 === 0),
        threshold = 0.4, nprobe = 2)
    }

  /** PQ index artifacts under the naive %50 codebook convention,
    * materialized once (round 11): the corpus code table (q86/q122's
    * probe side) and the composed IVF-PQ index (q87/q123's). In
    * production both are ingest-time INDEX BUILDS probed by every query
    * — the standard IVF-PQ deployment shape, and the same amortized-
    * store rationale as the q129 fingerprint table. q85 stays the
    * from-scratch gate, so the one-shot build cost remains measured. */
  private[graft] def pqCodesShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "pqcodes") {
      val em = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(em.where(col("vec_id") % 50 === 0), m = PqM)
      Similarity.pqEncode(em, cb, m = PqM)
    }
  private[graft] def ivfPqIndexShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "pqidx") {
      val em = t(s, dir, "embeddings")
      val cents = em.where(col("vec_id") % 50 === 0)
      Similarity.ivfPqIndex(em, cents,
        Similarity.pqCodebooks(cents, m = PqM), m = PqM)
    }

  /** Stupid Backoff count tables for all orders 1..3 (q131/q132's model)
    * — a vocabulary-cardinality AGGREGATED artifact, exactly what the
    * staging rule permits (the trained LM is materialized once and every
    * scoring pass joins it); the token-grain SCORED stream is
    * deliberately not staged (the round-3 token-stream rule). */
  private[graft] def lmCountsShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "lmcounts")(
      graft.operators.NgramLm.lmCounts(t(s, dir, "documents"), "text",
        n = 3, minCount = LmMinCount))

  /** 5-gram Stupid Backoff count tables (q143's model) — the CCNet
    * production order (Wenzek 2020 screens with KenLM 5-grams); same
    * staging rationale as the trigram artifact. The scorer's shape is
    * order-independent (two shuffles; the candidate stream widens from
    * 5 to 9 slots per token), which q143 pins at the production order. */
  private[graft] def lmCounts5Shared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "lmcounts5")(
      graft.operators.NgramLm.lmCounts(t(s, dir, "documents"), "text",
        n = 5, minCount = LmMinCount))

  /** Per-document integer fluency score table (doc_id, source,
    * fluency_pm = ⌊1000·(order-≥2 matched tokens)/scored⌋ over the q132
    * backoff census) — the CCNet "score file" artifact the banding gate
    * (q144) reads. A document-cardinality AGGREGATED frame, so staging
    * is sanctioned (the q129 fingerprint-store precedent); materializing
    * it matters doubly here because the band assignment reads the score
    * table TWICE (edge census + assignment join), which is exactly why
    * CCNet ships per-shard score files rather than rescoring. */
  private[graft] def lmFluencyShared(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "lmfluency") {
      val docs = t(s, dir, "documents")
      val cen = graft.operators.NgramLm.scoreTokens(docs,
          lmCountsShared(s, dir),
          graft.operators.NgramLm.lmTotals(docs, "text"), "doc_id", "text")
        .groupBy("id")
        .agg(count(lit(1)).as("__sn"),
          sum(when(col("matched_ord") >= 2L, 1L).otherwise(0L)).as("__hi"))
      docs.select(col("doc_id"), col("source"))
        .join(cen.withColumnRenamed("id", "doc_id"), "doc_id")
        .select(col("doc_id"), col("source"),
          call_function("div", col("__hi") * 1000L, col("__sn"))
            .as("fluency_pm"))
    }

  /** Count-table pruning floor for the LM gates (q131/q132 and oracles):
    * 2 drops hapax grams — on this corpus ~58% of trigrams — so the gate
    * exercises the whole backoff chain INCLUDING the 1/N OOV floor even
    * though the model scores its own training corpus. */
  private[graft] val LmMinCount = 2L

  /** Minimum-token cleaning bar of the capstone pipeline (q127/q128 and
    * their oracles) — drops ~9% of this corpus, so the funnel stage has
    * live data at every SF. */
  private[graft] val CapMinTokens = 20

  /** The capstone cleaning funnel, in census order: the token bar, then
    * the seven Gopher rules, then the thirteen repetition screens — ONE
    * stage list shared by the gated pipeline run (q127/q128) and the
    * first-failure attribution census (q136), so the two gates can
    * never screen with different batteries. */
  private[graft] def capstoneFunnelStages: Seq[(String, Column)] =
    Seq("min_tokens" -> (Text.tokenCount(col("text")) >= CapMinTokens)) ++
      graft.functions.Quality.gopherStages("text", Text.Stopwords) ++
      graft.functions.Quality.repetitionStages("text")

  /**
   * The composed CorpusPipeline run gated by q127/q128 — ONE fixed,
   * oracle-expressible configuration (the mandatory path: clean (token
   * bar + the q133 Gopher rules + the q134 repetition screens — all
   * exact-integer, so the funnel is oracle-recomposable) → normalized
   * exact dedup → minhash near-dedup → bloom-screened decontamination →
   * integer-grain LM fluency screen (round 8: (o3+o2)·CapFluencyDen ≥
   * CapFluencyNum·scored_tokens — 49/50 — over the self-trained trigram
   * backoff census, the q132 fragments)
   * → 8/1/1 hash split → 4-shard packing; the float-tier optional
   * stages stay off so the DuckDB recomposition stays exact), run once
   * per (session,
   * sf-dir) and shared by the census and membership gates — exactly how
   * a production run fans its Report and its corpus frame out to
   * different consumers. Train pool / eval set reuse q52's mod-10
   * convention. `run` is eager (its Report counts execute inside), so
   * the memo holds finished results, not lineage.
   */
  private[graft] def capstoneShared(s: SparkSession, dir: String)
      : (DataFrame, graft.pipeline.CorpusPipeline.Report) =
    memoized(s, dir, "capstone") {
      val docs = t(s, dir, "documents")
      graft.pipeline.CorpusPipeline.run(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text",
        stages = capstoneFunnelStages,
        // stage 4a ON in the gated config (round 8): the integer-grain
        // fluency screen — keep docs whose token mass matches the
        // self-trained trigram model at order >= 2 for at least
        // CapFluencyNum/CapFluencyDen of their scored tokens. Exact
        // integers, so the oracle recomposes it from the q132 census
        // fragments.
        fluencyMin = Some(CapFluencyNum -> CapFluencyDen))
    }

  /** Fluency bar of the gated capstone config: keep docs with
    * (o3+o2)·den ≥ num·scored_tokens. The bar must read the POST-SCREEN
    * distribution, not the raw corpus's: the Gopher/repetition funnel
    * already removes the disfluent tail (raw p05 ≈ 0.93 vs post-screen
    * p01 ≈ 0.98 — measured round 8), so a raw-corpus bar is vacuous by
    * stage 4a. 49/50 = 0.98 sits at the post-screen ~1-2nd percentile
    * at every SF (drops 4/4/6 docs at sf0.001/0.01/0.1), so the stage
    * has live casualties everywhere without gutting the corpus — the
    * CapMinTokens "live data at every SF" principle. */
  private[graft] val CapFluencyNum = 49
  private[graft] val CapFluencyDen = 50

  // --------------------------------------------------- oracle SQL fragments

  /** Portable md5-derived 60-bit hash in DuckDB (twin of Hashing.stableHash60). */
  private[graft] def duckHash(expr: String): String =
    s"CAST(('0x' || substr(md5($expr),1,15)) AS BIGINT)"

  /** DuckDB twin of Text.shingles (word n-grams WITH multiplicity). */
  private[graft] def duckShingles(textCol: String, n: Int): String =
    s"""CASE WHEN len(string_split($textCol,' ')) < $n THEN []
       | ELSE list_transform(range(1, len(string_split($textCol,' '))-${n - 1}+1),
       |   i -> array_to_string(list_slice(string_split($textCol,' '), i, i+${n - 1}), ' '))
       | END""".stripMargin

  /** DuckDB twin of Text.shingleSet (distinct word 3-grams). */
  private[graft] def duckShingleSet(textCol: String, n: Int): String =
    s"list_distinct(${duckShingles(textCol, n)})"

  // ---------------------------------------------------------------- queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalGates.pricingSummary.engine(spark, "/root/testdata/sf0.001")

  /** Every gate of the driver contract, defined once in its family file
    * under [[graft.gates]]: the engine frame beside its DuckDB oracle. */
  lazy val gates: Seq[Gate] =
    RelationalGates.gates ++ WeatherGates.gates ++ TextGates.gates ++
      DedupGates.gates ++ SimilarityGates.gates ++ LmGates.gates ++
      SamplingGates.gates ++ CapstoneGates.gates ++ MultimodalGates.gates

  /** Gate name → engine frame. Builds no oracle SQL. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.engine).toMap

  /** Gate name → DuckDB SQL over the same parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** Shared trainer for q137/q138/q139/q147. The label is the capstone
    * battery's own verdict — the one stage list shared with
    * q127/q133/q134/q136, so classifier and teacher can never screen
    * with different rules.
    *
    * Trained ONCE per (session, sf-dir) and memoized (round 11): the
    * model is an ingest-time TRAINING artifact every consumer probes —
    * the same amortized-store rationale as the staged PQ index — and
    * its cost is the full corpus scan evaluating the 21-rule battery to
    * draw the sample, which q138/q139/q147 each re-paid. Training is
    * eager (bounded driver collects inside) and deterministic
    * (hash/id-ordered sample, fixed epochs), so the memo holds a
    * finished, engine-independent model. The one-shot training cost is
    * carried by the `pcm` stage row (Bench stages run before any query),
    * so q137-q139/q147 report the per-probe marginal — the same
    * measurement contract as the pqe/pqi index rows. */
  private[graft] def pcptModel(s: SparkSession, dir: String)
      : graft.operators.Classifier.PerceptronModel =
    memoized(s, dir, "pcptmodel")(
      graft.operators.Classifier.trainPerceptron(
        t(s, dir, "documents").withColumn("is_pass",
          capstoneFunnelStages.map(_._2).reduce(_ && _)),
        "doc_id", "is_pass", "text", ns = PcptOrders, buckets = FeatBuckets,
        sampleN = PcptSampleN, epochs = PcptEpochs, withStats = PcptStats))

  /** Hash-bucket count for the DSIR feature table (q89/q90 and oracles). */
  private[graft] val FeatBuckets = 4096

  /** Perceptron quality-classifier gate config (q137/q138 and oracles):
    * the 128 smallest-id docs, ONE pass — 128 update steps, each one
    * unrolled CTE in the oracle (the unroll cost bounds STEPS, not docs;
    * round 7 ran 64 docs × 2 epochs at the same step count). Measured
    * round 8 (sf0.01, majority 0.52): 128×1 beats 64×2 at every feature
    * space tried — the second pass re-walks docs the averaged vote has
    * already absorbed, while fresh docs carry new information. */
  private[graft] val PcptSampleN = 128
  private[graft] val PcptEpochs = 1

  /** Perceptron feature space (round 8, measured progression). The
    * oracle's superlinear unroll cost pins the step budget, so capacity
    * had to come from the feature space — and the measured answer is
    * neither gram width nor gram order: every hashed n-gram UNION made
    * holdout WORSE than a single order ({2} 0.68, {1,2} 0.58, {1,2,3}
    * 0.57, {2,3} 0.62-0.66 — 128 steps can't apportion credit across
    * correlated overlapping families), single orders climb modestly
    * ({2} 0.68 → {3} 0.73 at the 128×1 schedule), and the BUCKETIZED
    * DOC-STAT channel alone reaches 0.86 — the teacher is a threshold
    * battery over exactly these statistics, and six dense integer
    * features let 128 steps place thresholds where 4096 sparse gram
    * buckets cannot. Gate config: stats-only. Full sweep in NOTES.md
    * round 8; the gram path stays API-live and spec-covered. */
  private[graft] val PcptOrders = Seq.empty[Int]
  private[graft] val PcptStats = true

  /** PQ subspace count shared by q85-q87 and their oracles (dim 64 → four
    * 16-dim subspaces). */
  private[graft] val PqM = 4

  /** Span window (tokens) shared by q62/q63 and their oracles — 20 fits
    * this corpus's 10-100-token documents; production boilerplate removal
    * would run 50. */
  private[graft] val SpanWindow = 20

  /** Winnowing parameters shared by q107/q108 and their oracles: k-gram
    * width 8 and winnow window 4 fit the 10-100-token corpus (guarantee
    * threshold w+k−1 = 11 tokens; production boilerplate hunting runs
    * k≈50, w≈25 for a ~13× sparser index). */
  private[graft] val FpK = 8
  private[graft] val FpW = 4

  /** Per-band keep rates (num, denom) shared by q148's query and oracle —
    * the CCNet head-preferential mix as FRACTIONS (the form that scales:
    * a rate is a stateless per-row test, a quota is a rank). */
  private[graft] val BandRates: Map[String, (Int, Int)] =
    Map("head" -> ((9, 10)), "middle" -> ((1, 2)), "tail" -> ((1, 10)))

  /** The per-band CASE arm of the rate draw's hash-threshold test — ONE
    * builder for both rate-draw oracles (q148, q149), deterministic
    * branch order (sorted band names). */
  private[graft] def bandRateCaseSql(pick: ((Int, Int)) => Int, dflt: Int): String =
    BandRates.toSeq.sortBy(_._1)
      .map { case (g, r) => s"WHEN '$g' THEN ${pick(r)}" }
      .mkString("CASE band ", " ", s" ELSE $dflt END")

  /** Per-document base frame shared by the quality/lang oracles (q15,
    * q80, q81): stopword ratio, avg token length, language hit counts —
    * ONE copy so the scorer and its consumers can't drift. */
  private[graft] lazy val docQualityBaseSql =
    """SELECT doc_id, text,
      |  CAST(len(list_filter(string_split(text,' '), x->x='the'))
      |     + len(list_filter(string_split(text,' '), x->x='a'))
      |     + len(list_filter(string_split(text,' '), x->x='of'))
      |     + len(list_filter(string_split(text,' '), x->x='and'))
      |     + len(list_filter(string_split(text,' '), x->x='to')) AS DOUBLE)
      |    / CAST(len(string_split(text,' ')) AS DOUBLE) AS swr,
      |  (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text,' ')) AS DOUBLE)-1.0))
      |    / CAST(len(string_split(text,' ')) AS DOUBLE) AS atl,
      |  len(list_filter(string_split(text,' '), x->x='the'))
      |   + len(list_filter(string_split(text,' '), x->x='a'))
      |   + len(list_filter(string_split(text,' '), x->x='of')) AS en_hits,
      |  len(list_filter(string_split(text,' '), x->x='le'))
      |   + len(list_filter(string_split(text,' '), x->x='la'))
      |   + len(list_filter(string_split(text,' '), x->x='et')) AS fr_hits,
      |  len(list_filter(string_split(text,' '), x->x='el'))
      |   + len(list_filter(string_split(text,' '), x->x='los'))
      |   + len(list_filter(string_split(text,' '), x->x='y')) AS es_hits,
      |  len(list_filter(string_split(text,' '), x->x='der'))
      |   + len(list_filter(string_split(text,' '), x->x='die'))
      |   + len(list_filter(string_split(text,' '), x->x='und')) AS de_hits
      |FROM documents""".stripMargin

  /** Scalar quality-score expression over [[docQualityBaseSql]] columns. */
  private[graft] lazy val docQualitySql =
    """CAST(CAST(length(text) BETWEEN 50 AND 5000 AS INTEGER)
      |    + CAST(swr > 0.01 AS INTEGER)
      |    + CAST(atl BETWEEN 2.0 AND 12.0 AS INTEGER) AS DOUBLE)/3.0*100.0""".stripMargin

  /**
   * Gopher A1.1 rule CTE chain over `src`(doc_id, text): `${p}gq` →
   * `${p}gf` carrying boolean flags f1..f7 per doc — the q133
   * formulation (exact-integer thresholds, stop-word markers localized
   * to this corpus's vocabulary). Shared by the q133 oracle (src =
   * documents, no prefix) and the capstone funnel (src = pool, "c").
   */
  private[graft] def gopherCtes(src: String, p: String): String =
    s"""${p}gq AS (
       | SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS wc,
       |  CAST(list_sum(list_transform(string_split(text,' '), w -> length(w))) AS BIGINT) AS tot,
       |  CAST(length(text) - length(replace(text,'#','')) AS BIGINT)
       |   + CAST((length(text) - length(replace(text,'...',''))) // 3 AS BIGINT) AS sym,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |        l -> starts_with(l,'- ') OR starts_with(l,'• '))) AS BIGINT) AS bl,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |        l -> ends_with(l,'...'))) AS BIGINT) AS el,
       |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS nl,
       |  CAST(len(list_filter(string_split(text,' '),
       |        w -> regexp_matches(w,'[A-Za-z]'))) AS BIGINT) AS aw,
       |  CAST((CASE WHEN list_contains(string_split(text,' '),'the') THEN 1 ELSE 0 END)
       |   + (CASE WHEN list_contains(string_split(text,' '),'a') THEN 1 ELSE 0 END)
       |   + (CASE WHEN list_contains(string_split(text,' '),'of') THEN 1 ELSE 0 END)
       |   + (CASE WHEN list_contains(string_split(text,' '),'and') THEN 1 ELSE 0 END)
       |   + (CASE WHEN list_contains(string_split(text,' '),'to') THEN 1 ELSE 0 END) AS BIGINT) AS sw
       | FROM $src),
       |${p}gf AS (
       | SELECT doc_id,
       |  (wc BETWEEN 50 AND 100000) AS f1,
       |  (3*wc <= tot AND tot <= 10*wc) AS f2,
       |  (10*sym < wc) AS f3,
       |  (10*bl < 9*nl) AS f4,
       |  (10*el < 3*nl) AS f5,
       |  (5*aw >= 4*wc) AS f6,
       |  (sw >= 2) AS f7
       | FROM ${p}gq)""".stripMargin

  /** The seven Gopher rules as (funnel stage name → SQL keep-flag over
    * the `gf` CTE), in [[graft.functions.Quality.gopherFlags]] order —
    * the q133 kept-condition and the q136 first-failure arms read the
    * SAME ordered list. */
  private[graft] val GopherCondList: Seq[(String, String)] = Seq(
    "r_word_count" -> "f1", "r_word_len" -> "f2", "r_symbol_ratio" -> "f3",
    "r_bullet_lines" -> "f4", "r_ellipsis_lines" -> "f5",
    "r_alpha_words" -> "f6", "r_stop_words" -> "f7")

  private[graft] lazy val GopherKeptCond: String = GopherCondList.map(_._2).mkString(" AND ")

  /**
   * Gopher A1.2 repetition CTE chain over `src`(doc_id, text), ending in
   * `${p}wide` with all thirteen integer metric columns — the q134
   * formulation (window counts over the exploded (doc, n, position)
   * grid, top n-gram via max-count-then-max-mass, coverage via DISTINCT
   * covered positions, segment repeats via row_number > 1). Shared by
   * the q134 oracle and the capstone funnel.
   */
  private[graft] def repetitionCtes(src: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, string_split(text,' ') AS ws FROM $src),
       |${p}toklen AS (
       | SELECT doc_id, j, length(ws[j]) AS tl
       | FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j FROM ${p}tk)),
       |${p}ns AS (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n),
       |${p}sh AS (
       | SELECT doc_id, n, i, array_to_string(ws[i:i+n-1], ' ') AS g,
       |   CAST(length(array_to_string(ws[i:i+n-1], ' ')) - (n-1) AS BIGINT) AS gmass
       | FROM (SELECT doc_id, ws, n, unnest(generate_series(1, len(ws)-n+1)) AS i
       |       FROM ${p}tk CROSS JOIN ${p}ns WHERE len(ws) >= n)),
       |${p}shc AS (SELECT *, count(*) OVER (PARTITION BY doc_id, n, g) AS c FROM ${p}sh),
       |${p}topw AS (
       | SELECT doc_id,
       |  max(CASE WHEN n=2 THEN top_chars END) AS top2_chars,
       |  max(CASE WHEN n=3 THEN top_chars END) AS top3_chars,
       |  max(CASE WHEN n=4 THEN top_chars END) AS top4_chars
       | FROM (
       |  SELECT doc_id, n, CAST(mc * max(CASE WHEN c = mc THEN gmass END) AS BIGINT) AS top_chars
       |  FROM (SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS mc FROM ${p}shc)
       |  WHERE n <= 4 GROUP BY doc_id, n, mc)
       | GROUP BY doc_id),
       |${p}cov AS (
       | SELECT DISTINCT doc_id, n, j FROM (
       |  SELECT doc_id, n, unnest(generate_series(i, i+n-1)) AS j
       |  FROM ${p}shc WHERE c >= 2 AND n >= 5)),
       |${p}dupw AS (
       | SELECT doc_id,
       |  max(CASE WHEN n=5 THEN dup_chars END) AS dup5_chars,
       |  max(CASE WHEN n=6 THEN dup_chars END) AS dup6_chars,
       |  max(CASE WHEN n=7 THEN dup_chars END) AS dup7_chars,
       |  max(CASE WHEN n=8 THEN dup_chars END) AS dup8_chars,
       |  max(CASE WHEN n=9 THEN dup_chars END) AS dup9_chars,
       |  max(CASE WHEN n=10 THEN dup_chars END) AS dup10_chars
       | FROM (
       |  SELECT c1.doc_id, c1.n, CAST(sum(tl) AS BIGINT) AS dup_chars
       |  FROM ${p}cov c1 JOIN ${p}toklen t1 ON c1.doc_id = t1.doc_id AND c1.j = t1.j
       |  GROUP BY c1.doc_id, c1.n)
       | GROUP BY doc_id),
       |${p}lrep AS (
       | SELECT doc_id,
       |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dup_lines,
       |  CAST(count(*) AS BIGINT) AS total_lines,
       |  CAST(coalesce(sum(length(s)) FILTER (WHERE rn > 1), 0) AS BIGINT) AS dup_line_chars,
       |  CAST(sum(length(s)) AS BIGINT) AS total_line_chars
       | FROM (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id, s ORDER BY i) AS rn
       |       FROM (SELECT doc_id, i, ls[i] AS s
       |             FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
       |                     unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
       |                   FROM $src)))
       | GROUP BY doc_id),
       |${p}prep AS (
       | SELECT doc_id,
       |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dup_paras,
       |  CAST(count(*) AS BIGINT) AS total_paras,
       |  CAST(coalesce(sum(length(s)) FILTER (WHERE rn > 1), 0) AS BIGINT) AS dup_para_chars,
       |  CAST(sum(length(s)) AS BIGINT) AS total_para_chars
       | FROM (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id, s ORDER BY i) AS rn
       |       FROM (SELECT doc_id, i, ls[i] AS s
       |             FROM (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ls,
       |                     unnest(generate_series(1, len(string_split(text, chr(10)||chr(10))))) AS i
       |                   FROM $src)))
       | GROUP BY doc_id),
       |${p}wide AS (
       | SELECT d.doc_id,
       |  ${p}lrep.dup_lines, ${p}lrep.total_lines, ${p}lrep.dup_line_chars, ${p}lrep.total_line_chars,
       |  ${p}prep.dup_paras, ${p}prep.total_paras, ${p}prep.dup_para_chars, ${p}prep.total_para_chars,
       |  coalesce(${p}topw.top2_chars, 0) AS top2_chars,
       |  coalesce(${p}topw.top3_chars, 0) AS top3_chars,
       |  coalesce(${p}topw.top4_chars, 0) AS top4_chars,
       |  coalesce(${p}dupw.dup5_chars, 0) AS dup5_chars,
       |  coalesce(${p}dupw.dup6_chars, 0) AS dup6_chars,
       |  coalesce(${p}dupw.dup7_chars, 0) AS dup7_chars,
       |  coalesce(${p}dupw.dup8_chars, 0) AS dup8_chars,
       |  coalesce(${p}dupw.dup9_chars, 0) AS dup9_chars,
       |  coalesce(${p}dupw.dup10_chars, 0) AS dup10_chars,
       |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS total_chars
       | FROM $src d
       | LEFT JOIN ${p}lrep ON d.doc_id = ${p}lrep.doc_id
       | LEFT JOIN ${p}prep ON d.doc_id = ${p}prep.doc_id
       | LEFT JOIN ${p}topw ON d.doc_id = ${p}topw.doc_id
       | LEFT JOIN ${p}dupw ON d.doc_id = ${p}dupw.doc_id)""".stripMargin

  /** The thirteen repetition screens as (funnel stage name → SQL
    * keep-condition over the `wide` CTE), in
    * [[graft.functions.Quality.repetitionMetrics]] order with the
    * canonical `RepetitionThresholds` as exact cross-multiplications
    * (empty denominator passes) — the q134 kept-condition and the q136
    * first-failure arms read the SAME ordered list. */
  private[graft] val RepetitionCondList: Seq[(String, String)] = Seq(
    "r_dup_line_frac"  -> "(total_lines = 0 OR 10*dup_lines <= 3*total_lines)",
    "r_dup_para_frac"  -> "(total_paras = 0 OR 10*dup_paras <= 3*total_paras)",
    "r_dup_line_chars" -> "(total_line_chars = 0 OR 5*dup_line_chars <= total_line_chars)",
    "r_dup_para_chars" -> "(total_para_chars = 0 OR 5*dup_para_chars <= total_para_chars)",
    "r_top2_chars"     -> "(total_chars = 0 OR 5*top2_chars <= total_chars)",
    "r_top3_chars"     -> "(total_chars = 0 OR 50*top3_chars <= 9*total_chars)",
    "r_top4_chars"     -> "(total_chars = 0 OR 25*top4_chars <= 4*total_chars)",
    "r_dup5_chars"     -> "(total_chars = 0 OR 20*dup5_chars <= 3*total_chars)",
    "r_dup6_chars"     -> "(total_chars = 0 OR 50*dup6_chars <= 7*total_chars)",
    "r_dup7_chars"     -> "(total_chars = 0 OR 100*dup7_chars <= 13*total_chars)",
    "r_dup8_chars"     -> "(total_chars = 0 OR 25*dup8_chars <= 3*total_chars)",
    "r_dup9_chars"     -> "(total_chars = 0 OR 100*dup9_chars <= 11*total_chars)",
    "r_dup10_chars"    -> "(total_chars = 0 OR 10*dup10_chars <= total_chars)")

  private[graft] lazy val RepetitionKeptCond: String =
    RepetitionCondList.map(_._2).mkString(" AND\n  ")

  /**
   * DuckDB recomposition of the q127/q128 capstone pipeline — the
   * already-gated stage formulations (q46's normalization, q19/q20's
   * minhash+banding, q18's exact jaccard, q36's recursive components,
   * q52's cross-set contamination, q43's hash split, q50's pack layout,
   * since round 7 the q133 Gopher rules + q134 repetition screens in
   * the cleaning funnel — shared CTE fragments, "fq"-prefixed over the
   * pool — and since round 8 the q131/q132 LM census fragments
   * ("fl"-prefixed lmCteN over scr) recomposing the integer fluency
   * screen: keep docs with CapFluencyDen·Σ[matched_ord ≥ 2] ≥
   * CapFluencyNum·scored tokens — 49/50, interpolated, never restated)
   * chained end to end over the mod-10 train pool, ending in CTEs
   * the two final selects read: pool/cln/ex/nd/scr/flu (stage frames),
   * corp (the split corpus) and seqs (per-shard packed sequence counts). The
   * bloom prefilter is omitted on purpose: it is bit-identical to the
   * exact screen (no false negatives; FPs share no shingle so they never
   * score), which is precisely what lets a plain SQL oracle gate the
   * 100 TB plan.
   *
   * Every non-recursive CTE head carries the AS MATERIALIZED hint:
   * DuckDB re-inlines a plain CTE at each reference, and with the
   * funnel fragments in front of a chain whose tail (census arms, the
   * recursive closure, the eval screens) references earlier frames many
   * times, the re-evaluation compounds — the plain form of this oracle
   * takes >15 min at sf0.01 where the materialized form takes <1 s.
   * Semantics are identical; only `reach` (recursive, column-list head)
   * must stay plain.
   */
  private[graft] def materializeCtes(ctes: String): String =
    ctes.replaceAll("(?m)^([a-z]\\w*) AS \\(", "$1 AS MATERIALIZED (")

  /**
   * DuckDB twin of NgramLm.lmCounts + scoreTokens at order `n` (Stupid
   * Backoff, minCount = LmMinCount), ending in CTE
   * `sc(doc_id, pos, matched_ord, backoffs, c_num, c_den)` — an
   * INDEPENDENT formulation: explicit per-slot LEFT JOINs against the
   * per-order count tables vs the Spark side's single unpivoted
   * candidate join + (doc,pos) re-group, so the gate cross-validates
   * the backoff selection rule itself. Built FROM the order exactly
   * like the Scala side's slot builder: per k = 2..n the gram g<k>
   * (tokens i−k+1..i) and its context b<k−1> (tokens i−k+1..i−1).
   * Working tables AS MATERIALIZED (the q130 lesson: DuckDB inlines
   * CTEs by default; gr is referenced once per order plus the lookup).
   * `table` is the corpus the model both trains on and scores (the
   * self-scoring gate shape); `prefix` namespaces every CTE so the
   * fragment embeds inside a larger chain (the capstone oracle trains
   * over its own post-screen CTE) — the token-grain result is
   * `<prefix>sc`.
   */
  private[graft] def lmCteN(n: Int, table: String = "documents",
                            prefix: String = ""): String = {
    val P = prefix
    val gramDefs = (2 to n).flatMap { k => Seq(
      s"CASE WHEN i >= $k THEN array_to_string(toks[i-${k - 1}:i-1],' ') END AS b${k - 1}",
      s"CASE WHEN i >= $k THEN array_to_string(toks[i-${k - 1}:i],' ') END AS g$k")
    }.mkString(",\n  ")
    val countTables = (2 to n).map { k =>
      s"${P}c$k AS MATERIALIZED (SELECT g$k AS gram, CAST(count(*) AS BIGINT) AS c\n" +
      s"  FROM ${P}gr WHERE g$k IS NOT NULL GROUP BY 1 HAVING count(*) >= $LmMinCount)"
    }.mkString(",\n")
    val lkCols = ((n to 2 by -1).flatMap { k =>
      Seq(s"x$k.c AS c$k", s"xb${k - 1}.c AS cb${k - 1}") } :+ "x1.c AS c1")
      .mkString(", ")
    val lookups = (n to 2 by -1).flatMap { k => Seq(
      s"LEFT JOIN ${P}c$k x$k ON ${P}gr.g$k = x$k.gram",
      s"LEFT JOIN ${P}c${k - 1} xb${k - 1} ON ${P}gr.b${k - 1} = xb${k - 1}.gram")
    }.mkString("\n  ")
    val ordCase = (n to 1 by -1)
      .map(k => s"WHEN c$k IS NOT NULL THEN $k").mkString(" ")
    val numCoalesce = (n to 1 by -1).map(k => s"c$k").mkString(", ")
    val denCase = (n to 2 by -1)
      .map(k => s"WHEN c$k IS NOT NULL THEN cb${k - 1}").mkString(" ")
    s"""${P}tkx AS MATERIALIZED (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM $table)),
       |${P}gr AS MATERIALIZED (SELECT doc_id, CAST(i-1 AS BIGINT) AS pos,
       |  toks[i] AS w,
       |  $gramDefs
       |  FROM ${P}tkx),
       |${P}c1 AS MATERIALIZED (SELECT w AS gram, CAST(count(*) AS BIGINT) AS c
       |  FROM ${P}gr GROUP BY 1 HAVING count(*) >= $LmMinCount),
       |$countTables,
       |${P}tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM ${P}gr),
       |${P}lk AS (SELECT ${P}gr.doc_id, ${P}gr.pos, $lkCols
       |  FROM ${P}gr
       |  $lookups
       |  LEFT JOIN ${P}c1 x1 ON ${P}gr.w = x1.gram),
       |${P}sc AS (SELECT doc_id, pos,
       |  CAST(CASE $ordCase ELSE 0 END AS BIGINT) AS matched_ord,
       |  CAST(least($n, pos + 1) - CASE $ordCase ELSE 1 END AS BIGINT) AS backoffs,
       |  coalesce($numCoalesce, CAST(1 AS BIGINT)) AS c_num,
       |  CASE $denCase ELSE (SELECT n_tokens FROM ${P}tot) END AS c_den
       |  FROM ${P}lk)""".stripMargin
  }

  /** Row-grain tercile edges + value-vs-edge band assignment over a
    * permille CTE `pmCte(..., fluency_pm)` — ONE copy of the banding
    * recipe read by every banding oracle (q144/q146/q148 partitioned by
    * source; q149 global). Emits `<p>rk`/`<p>th`/`<p>bd`; `<p>bd` is
    * pmCte's columns plus `band`. */
  private[graft] def tercileBandSql(p: String, pmCte: String,
                                    grpCol: Option[String]): String = {
    val gsel = grpCol.map(g => s"$g, ").getOrElse("")
    val part = grpCol.map(g => s"PARTITION BY $g ").getOrElse("")
    val cnt = grpCol.map(g => s"PARTITION BY $g").getOrElse("")
    val grp = grpCol.map(g => s" GROUP BY $g").getOrElse("")
    val join = grpCol.map(g => s"JOIN ${p}th t USING ($g)")
      .getOrElse(s"CROSS JOIN ${p}th t")
    s"""${p}rk AS (SELECT $gsel fluency_pm,
       |  row_number() OVER (${part}ORDER BY fluency_pm ASC) AS vr,
       |  count(*) OVER ($cnt) AS n
       | FROM $pmCte),
       |${p}th AS (SELECT $gsel
       |  max(CASE WHEN vr = (n-1)*1//3+1 THEN fluency_pm END) AS p33,
       |  max(CASE WHEN vr = (n-1)*2//3+1 THEN fluency_pm END) AS p66
       | FROM ${p}rk$grp),
       |${p}bd AS (SELECT p.*,
       |  CASE WHEN p.fluency_pm <= t.p33 THEN 'tail'
       |       WHEN p.fluency_pm <= t.p66 THEN 'middle'
       |       ELSE 'head' END AS band
       | FROM $pmCte p $join)""".stripMargin
  }
}

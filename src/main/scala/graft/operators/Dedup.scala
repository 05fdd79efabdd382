package graft.operators

import graft.expressions.BoundedCollectAgg
import graft.functions.{Hashing, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators, exact and approximate — the training-data-pipeline
 * extensions (SURVEY.md §7.4.7) plus the reference's own keyed dedup
 * (load_to_postgres.py:229-236).
 *
 * Scale design: exact dedup is one hash shuffle on the dedup key. Near-dup
 * detection never materializes the O(n²) pair matrix — candidates come from
 * an inverted index (shingle → docs) or LSH band buckets, so the join fans
 * out only within buckets. Hot shingles are capped (`maxBucket`) the way
 * production dedup pipelines drop stop-shingles.
 */
object Dedup {

  /** Keyed dedup keeping a deterministic winner (min tieBreak) per key —
    * unlike dropDuplicates, reproducible under any partitioning. The
    * tieBreak must vary WITHIN a key (a row id, or all payload columns via
    * `keepFirstBy`) — a tie-break that is itself a key column is constant
    * per window and the winner degrades to partitioning luck. */
  def keepFirst(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame =
    keepFirstBy(df, keys, Seq(tieBreak))

  /** keepFirst with a multi-column tie-break (ordered ascending). */
  def keepFirstBy(df: DataFrame, keys: Seq[String], tieBreaks: Seq[String]): DataFrame =
    rankLimit(df, keys.map(col), tieBreaks.map(col(_).asc), 1)

  /** The shared rank-limit idiom (row_number over a keyed window, keep the
    * first n): one shuffle on the partition keys, and the rank bound
    * pushes down map-side (WindowGroupLimit) so each partition forwards at
    * most n rows per key. Used by keyed dedup and per-group sampling. */
  def rankLimit(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column],
                n: Int): DataFrame =
    rankLimitKeep(df, partitionCols, orderCols, n, as = "__rn").drop("__rn")

  /** rankLimit retaining the rank column (callers that post-filter on a
    * per-group bound — e.g. mixture quotas — need the rank after the
    * constant limit has done the map-side pruning). */
  def rankLimitKeep(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column],
                    n: Int, as: String): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(as, row_number().over(w)).where(col(as) <= n)
  }

  /**
   * Exact content dedup by hash-groupBy (one shuffle on the 128-bit digest,
   * never on the full text — at 100 TB the shuffle carries 32-byte keys,
   * not documents).
   */
  def exactTextGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** id → distinct word-n-gram shingle, exploded (the inverted-index input). */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(Text.shingleSet(col(textCol), n)).as("shingle"))

  /**
   * id → 60-bit hash of each distinct shingle — THE shared staging artifact
   * of the text near-dup family: jaccard, minhash signatures and (via them)
   * LSH candidates all consume exactly this stream. Production pipelines
   * materialize it once; harnesses should persist it across consumers
   * (md5-hashing the shingles is ~1/3 of each consumer's cost otherwise).
   */
  def hashedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodedShingles(docs, idCol, textCol, n)
      .select(col("id"), Hashing.stableHash60(col("shingle")).as("h"))

  /**
   * Exact n-gram Jaccard near-dup pairs via shingle inverted index:
   * shingle → co-occurring (id,id) pairs → count(shared) → Jaccard =
   * shared / (|A| + |B| − shared). Hot shingles above `maxBucket` docs are
   * dropped (stop-shingles) to bound the self-join fan-out; pairs sharing
   * only stop-shingles can't be near-dups at sensible thresholds anyway.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, maxBucket: Int = 1000): DataFrame =
    jaccardPairsFromHashed(hashedShingles(docs, idCol, textCol, n), threshold, maxBucket)

  /**
   * Jaccard pairs over a (possibly pre-staged) hashed shingle stream.
   * Jaccard counts DISTINCT shingles, so the pipeline only needs shingle
   * IDENTITY — the 60-bit hash makes every downstream shuffle
   * (posting-list groupBy, pair counts) carry 8-byte keys instead of
   * ~n-word strings. Collision odds at 2^60 are ~(#shingles)²/2^61 —
   * immaterial against the approximate alternatives' error rates.
   */
  /**
   * Full overlap statistics per co-shingled pair: shared count, set
   * sizes, Jaccard AND the overlap coefficient |A∩B| / min(|A|,|B|).
   * The overlap coefficient is the asymmetric-dup detector Jaccard
   * structurally cannot be: a 30-token license block quoted inside a
   * 3000-token document scores ~0.01 Jaccard (union-dominated) but ~1.0
   * overlap — the snippet-inside-document class. Same single-pass
   * posting-list machinery as [[jaccardPairsFromHashed]] (never a
   * self-join); `sh` must be DISTINCT (id, h) rows, as
   * [[hashedShingles]] produces. Filter is on the overlap coefficient;
   * both scores are emitted so callers can post-filter either way.
   */
  def overlapPairsFromHashed(sh: DataFrame, minOverlap: Double,
                             maxBucket: Int): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val shared = sh.groupBy("h")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsFromSorted(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "set_size" -> "size_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "set_size" -> "size_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")).cast("double"))
      .withColumn("overlap",
        col("shared").cast("double") /
          least(col("size_a"), col("size_b")).cast("double"))
      .where(col("overlap") >= minOverlap)
      .select("id_a", "id_b", "shared", "size_a", "size_b", "jaccard", "overlap")
  }

  /**
   * Containment (snippet-inside-document) near-dup pairs: doc pairs whose
   * smaller shingle set is ≥ `minOverlap` contained in the larger — the
   * quotes/boilerplate/license class that whole-doc Jaccard at 0.5 never
   * flags. Same cost envelope as [[ngramJaccardPairs]].
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minOverlap: Double,
                       maxBucket: Int = 1000): DataFrame =
    overlapPairsFromHashed(hashedShingles(docs, idCol, textCol, n),
      minOverlap, maxBucket)

  def jaccardPairsFromHashed(sh: DataFrame, threshold: Double, maxBucket: Int): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))

    // Pair counting via bucket expansion (not a self-join): group the
    // shingle stream once, expand (a<b) pairs inside each posting list,
    // count pair occurrences = shared shingles. One pass over the shingle
    // stream instead of two sides of a join; the bucket-size filter IS the
    // stop-shingle cap (no separate hot-list pass needed).
    val shared = sh.groupBy("h")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsFromSorted(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))

    shared
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "set_size" -> "size_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "set_size" -> "size_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Benchmark decontamination: for every TEST (eval-set) document, the
   * maximum n-gram Jaccard against any TRAIN document, with the matching
   * train doc (ties → smallest id). Same inverted-index shape as
   * [[jaccardPairsFromHashed]], but the in-bucket expansion builds only
   * CROSS-SET (test × train) pairs — within-set pairs never materialize.
   *
   * The output is EXACT, not approximate: jaccard > 0 ⟺ ≥ 1 shared
   * shingle, and every sharing pair co-occurs in that shingle's posting
   * list. Test docs sharing no shingle with any train doc emit no row
   * (contamination 0 by definition). `maxBucket` is the usual
   * stop-shingle cap for 100 TB corpora — pairs sharing only
   * ubiquitous shingles can't be meaningfully contaminated; the gate
   * query runs uncapped so the oracle is a plain cross-join argmax.
   */
  def crossSetContamination(train: DataFrame, test: DataFrame, idCol: String,
                            textCol: String, n: Int,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    val tr = hashedShingles(train, idCol, textCol, n)
    val te = hashedShingles(test, idCol, textCol, n)
    contaminationFromHashed(tr, tr, te, maxBucket)
  }

  /**
   * [[crossSetContamination]] with a broadcast Bloom prefilter on the train
   * shingle stream — the 100 TB shape. The eval set is tiny next to the
   * training corpus, so its distinct shingle hashes fit a 2-probe bitmap
   * ([[graft.expressions.BloomExprs]], m/8 bytes broadcast); train shingles
   * that miss the bitmap are dropped AT THE SCAN, before the posting-list
   * shuffle that dominates the exact plan. Results are bit-identical to the
   * exact operator: a shared shingle is by definition in the test set,
   * hence in the bitmap (no false negatives), and Bloom false positives
   * reach a posting list with no test partner and emit nothing. Only
   * |train set| sizes still need the full stream — a partial-aggregated
   * count whose shuffle carries per-doc combiners, not occurrences.
   */
  def bloomContamination(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, n: Int, mBits: Int = 1 << 20,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.expressions.BloomExprs
    // two consumers (bitmap build action + the pair pipeline): eager
    // checkpoint, or the shingle explode re-runs per consumer
    val te = hashedShingles(test, idCol, textCol, n).localCheckpoint()
    val words = BloomExprs.buildBitmap(te, "h", mBits)
    val trFull = hashedShingles(train, idCol, textCol, n)
    val trHits = trFull.where(BloomExprs.mightContain(col("h"), words, mBits))
    // |train set| needs no hashes, only the DISTINCT-shingle count —
    // size(shingleSet) is the same number as groupBy(id).count() over
    // the hashed stream (hashedShingles explodes exactly that set), as
    // a zero-shuffle per-row projection: the second full explode+md5
    // pass over the train corpus (round 11) disappears. Shingle-less
    // docs never reach a posting list, so the inner size join ignores
    // them either way; the filter keeps the frame pair-relevant.
    val sizesTr = train
      .select(col(idCol).as("train_id"),
        size(graft.functions.Text.shingleSet(col(textCol), n)).cast("long")
          .as("size_r"))
      .where(col("size_r") >= 1)
    contaminationWithSizes(trHits, sizesTr, te, maxBucket)
  }

  /**
   * Per-document contamination screen as a pure COLUMN: true iff ANY
   * shingle of `textCol` hits the eval-set bitmap. The per-row form of
   * [[bloomContamination]]'s prefilter — stateless, so it composes
   * unchanged into Structured Streaming (screen documents against a
   * benchmark suite AT INGEST, before they ever land in the corpus, with
   * per-row cost independent of eval-set size). Bloom false positives
   * can flag an uncontaminated doc (rate set by mBits); a true-flag
   * pipeline routes to the exact check, a false flag is authoritative.
   * Null text screens false (a missing document shares nothing) so the
   * column is always a usable boolean predicate.
   */
  def bloomScreen(textCol: Column, n: Int, words: Array[Long], mBits: Int): Column = {
    import graft.expressions.BloomExprs
    coalesce(
      exists(Text.shingleSet(textCol, n),
        s => BloomExprs.mightContain(Hashing.stableHash60(s), words, mBits)),
      lit(false))
  }

  /**
   * Shared contamination core over hashed shingle streams. `trPairs` feeds
   * the posting-list pair expansion (may be prefiltered — dropping train
   * shingles absent from the test set cannot change any pair count);
   * `trSizes` must be the UNFILTERED stream, since |train set| is the
   * Jaccard denominator.
   */
  private[graft] def contaminationFromHashed(tr: DataFrame, trSizes: DataFrame,
                                             te: DataFrame, maxBucket: Int): DataFrame =
    contaminationWithSizes(tr,
      trSizes.groupBy(col("id").as("train_id")).agg(count(lit(1)).as("size_r")),
      te, maxBucket)

  /** [[contaminationFromHashed]] with the train-side set sizes already
    * computed — callers that can derive |train set| without a second
    * pass over the hashed stream (a per-row `size(shingleSet)`
    * projection) hand the (train_id, size_r) frame in directly. */
  private[graft] def contaminationWithSizes(tr: DataFrame, sizesTr: DataFrame,
                                            te: DataFrame, maxBucket: Int): DataFrame = {
    val sizesTe = te.groupBy(col("id").as("test_id")).agg(count(lit(1)).as("size_t"))
    val shared = tr.withColumn("side", lit(0)).unionByName(te.withColumn("side", lit(1)))
      .groupBy("h")
      .agg(collect_set(when(col("side") === 0, col("id"))).as("train_ids"),
        collect_set(when(col("side") === 1, col("id"))).as("test_ids"))
      .where(size(col("train_ids")) >= 1 && size(col("test_ids")) >= 1 &&
        size(col("train_ids")) + size(col("test_ids")) <= maxBucket)
      // compiled cross-set expansion (round 12, graft_cross_pairs): left
      // element = test id, right = train id — same nested-loop order as
      // the interpreted transform chain it replaces
      .select(explode(graft.expressions.CrossPairs.column(
        col("test_ids"), col("train_ids"))).as("p"))
      .groupBy(col("p.id_a").as("test_id"), col("p.id_b").as("train_id"))
      .agg(count(lit(1)).as("shared"))
    val scored = shared
      .join(sizesTe, Seq("test_id"))
      .join(sizesTr, Seq("train_id"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("size_t") + col("size_r") - col("shared")).cast("double"))
    rankLimit(scored, Seq(col("test_id")),
        Seq(col("jaccard").desc, col("train_id").asc), 1)
      .select(col("test_id"), col("jaccard").as("contamination"),
        col("train_id").as("matched_train_id"))
  }

  /**
   * MinHash signature: for each doc, numHashes minima of a universal hash
   * family over the portable 60-bit shingle hash. One aggregation shuffle;
   * signature width is a constant (numHashes longs per doc).
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame = {
    // ONE compiled pass per document (round 12, guide §2.4): the signature
    // is a pure per-document function of the shingle set (min over
    // occurrences = min over the distinct set), so the shingle stream
    // never explodes and the corpus never exchanges on id — the previous
    // shape paid a Generate + md5 column + token-cardinality shuffle into
    // 16 min() aggregates. Bit-identical row set by construction: docs
    // with fewer than n tokens produce an empty signature here and no
    // group there (HashingSpec pins the frame equality);
    // [[minhashFromHashed]] stays for callers holding a pre-hashed stream.
    val mh = graft.expressions.MinhashSig.column(col(textCol), n, numHashes)
    docs.select(col(idCol).as("id"), mh.as("__mh"))
      .where(size(col("__mh")) > 0)
      .select(col("id") +:
        (0 until numHashes).map(i => col("__mh").getItem(i).as(s"mh_$i")): _*)
  }

  /** Minhash signatures over a (possibly pre-staged) hashed shingle stream —
    * the same artifact the jaccard path consumes. */
  def minhashFromHashed(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { i =>
      val (ai, bi) = Hashing.coeffs(i)
      min(Hashing.universalHash(col("h"), ai, bi)).as(s"mh_$i")
    }
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /**
   * All (a,b), a<b pairs from a sorted id array — the within-bucket pair
   * expansion shared by the LSH candidate generators. Pure expression
   * (no UDF); bucket arrays are small by LSH design, so the quadratic
   * expansion is bounded per bucket.
   */
  // one compiled two-loop pass since round 12 (graft_sorted_pairs): the
  // declarative flatten(transform(slice…)) chain ran interpreted per
  // element and slice() copied the array tail per outer element — O(k²)
  // copies per bucket in the pair family's hottest loop
  private def pairsFromSorted(ids: Column): Column =
    graft.expressions.SortedPairs.column(ids)

  /** Banded bucket keys over a minhash signature frame — ONE definition
    * shared by the full and incremental candidate generators (a band-key
    * scheme change must move both, or their spec-pinned equivalence
    * silently breaks). */
  private def bandKeyCols(numHashes: Int, bands: Int): Seq[Column] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    (0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"mh_${bi * rows + r}")): _*).as("sig"))
    }
  }

  /**
   * MinHash + LSH near-dup candidates: split the signature into `bands`
   * bands of `numHashes/bands` rows, bucket by (band-index, band-values),
   * emit pairs sharing any bucket. Output is distinct candidate pairs —
   * verify with exact Jaccard for the final answer.
   *
   * Pairs are generated INSIDE each bucket (collect_set + pairwise
   * expansion), not by self-joining the bucket stream — the signature
   * aggregation runs once instead of twice, and the only shuffles are the
   * bucket groupBy and the final pair distinct. `maxBucket` drops
   * degenerate hot buckets (identical-signature floods) the way the
   * shingle cap drops stop-shingles.
   */
  def minhashLshCandidates(signatures: DataFrame, numHashes: Int, bands: Int,
                           maxBucket: Int = 10000): DataFrame = {
    signatures
      .select(col("id"), explode(array(bandKeyCols(numHashes, bands): _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.sig"))
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsFromSorted(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate pair list — the final step
    * of every LSH pipeline, exposed so candidates can come from any
    * generator (minhash bands, simhash chunks, a cached candidate table). */
  def jaccardVerify(cands: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double): DataFrame = {
    val sets = docs.select(col(idCol).as("id"), Text.shingleSet(col(textCol), n).as("sset"))
    cands
      .join(sets.select(col("id").as("id_a"), col("sset").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sset").as("set_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH candidates verified with exact Jaccard ≥ threshold. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
                          numHashes: Int, bands: Int, threshold: Double): DataFrame =
    jaccardVerify(
      minhashLshCandidates(minhashSignatures(docs, idCol, textCol, n, numHashes),
        numHashes, bands),
      docs, idCol, textCol, n, threshold)

  /**
   * Incremental LSH candidates — the daily-batch production shape: a new
   * crawl batch arrives, the corpus's minhash signatures are already in a
   * store (computed once at ingest), and the only question is "which NEW
   * docs near-duplicate anything (new or old)?". Old×old pairs were
   * answered on previous days and must not be re-expanded — in a mature
   * corpus almost every bucket is dominated by old members, so the naive
   * re-run's pair work is ~|corpus|²-shaped while the incremental run's
   * is |new|-shaped. Same cross-set bucket trick as
   * [[crossSetContamination]]: buckets collect old and new ids
   * SEPARATELY, emit new×old + new×new only; a bucket with no new member
   * emits nothing (and contributes nothing to the shuffle beyond its
   * grouped row).
   *
   * `newSigs`/`oldSigs`: signature frames shaped like
   * [[minhashSignatures]] output (id, mh_0..mh_{numHashes-1}).
   * Output: distinct (id_a, id_b) with id_a < id_b, ≥1 side new.
   *
   * Shuffle shape: the new batch's distinct bucket keys broadcast as a
   * semi-join filter over the store's exploded bands, so old rows in
   * buckets no new doc touches are dropped AT THE SCAN — the bucket
   * groupBy shuffles |new|·bands plus only the matching store rows, not
   * the |corpus|·bands stream. (The store scan itself remains; a store
   * PARTITIONED by band/sig-prefix would prune that too.)
   */
  def incrementalLshCandidates(newSigs: DataFrame, oldSigs: DataFrame,
                               numHashes: Int, bands: Int,
                               maxBucket: Int = 10000): DataFrame =
    incrementalLshCandidatesFromBands(
      explodedBandKeys(newSigs, numHashes, bands),
      explodedBandKeys(oldSigs, numHashes, bands), maxBucket)

  /** Signature frame → exploded (id, band, sig) band-key rows — the
    * store-layout form of a signature table. A store PERSISTED in this
    * shape (partitioned by band + a sig-hash prefix) lets the incremental
    * path prune untouched partitions at the scan; see
    * streaming.IncrementalDedup.stepBandStore. */
  def explodedBandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sigs.select(col("id"), explode(array(bandKeyCols(numHashes, bands): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))

  /** Incremental candidates over pre-exploded (id, band, sig) frames —
    * the core of [[incrementalLshCandidates]], exposed so callers holding
    * a band-layout store can feed it directly (the signature→band explode
    * happens once, at store-write time, not per query). Semantics are
    * identical: new×old + new×new pairs only, old×old never expands. */
  def incrementalLshCandidatesFromBands(newBands: DataFrame, oldBands: DataFrame,
                                        maxBucket: Int = 10000): DataFrame = {
    def tag(df: DataFrame, isNew: Int): DataFrame =
      df.select(col("id"), col("band"), col("sig"), lit(isNew).as("is_new"))
    // two consumers (bucket-key build + the union below): eager checkpoint
    val nb = tag(newBands, 1).localCheckpoint()
    val touched = nb.select(col("band"), col("sig")).distinct()
    val oldRelevant = tag(oldBands, 0).join(broadcast(touched), Seq("band", "sig"))
    nb.unionByName(oldRelevant)
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_set(when(col("is_new") === 1, col("id")))).as("new_ids"),
        sort_array(collect_set(when(col("is_new") === 0, col("id")))).as("old_ids"))
      .where(size(col("new_ids")) >= 1 &&
        (size(col("new_ids")) + size(col("old_ids"))).between(2, maxBucket))
      // new×old cross pairs ++ new×new within-pairs; old×old never expands
      // (both compiled — round 12). Orientation normalizes POST-explode:
      // least/greatest is the old in-array rule for the cross rows and the
      // identity for the already-sorted new×new rows
      .select(explode(concat(
        graft.expressions.CrossPairs.column(col("new_ids"), col("old_ids")),
        pairsFromSorted(col("new_ids")))).as("p"))
      .select(least(col("p.id_a"), col("p.id_b")).as("id_a"),
        greatest(col("p.id_a"), col("p.id_b")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /**
   * id → (pos, h): position-indexed sliding-window token hashes — the span
   * inverted-index input. Same construction as [[hashedShingles]] but NOT
   * deduplicated and with the 0-based window start position kept: span
   * dedup needs to know WHERE a duplicated passage sits, not just that the
   * document contains it. Window `w` spans tokens [pos, pos+w−1].
   */
  def spanHashes(docs: DataFrame, idCol: String, textCol: String, window: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(Text.shingles(col(textCol), window)).as(Seq("pos", "span")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        Hashing.stableHash60(col("span")).as("h"))

  /**
   * Substring/span-level exact dedup, per document: the merged token ranges
   * of `textCol` covered by a `window`-token passage that also appears in
   * at least one OTHER document — the "repeated 50-token boilerplate /
   * license / chat-template" class that whole-document Jaccard at sensible
   * thresholds never catches (two long documents sharing one paragraph sit
   * far below 0.5). Downstream, a cleaner cuts exactly these ranges.
   *
   * Same single-pass bucket-expansion shape as [[jaccardPairsFromHashed]]
   * (group the span stream by hash once, emit the positions back out of
   * qualifying posting lists — never a self-join): one aggregation shuffle
   * on the 8-byte span hash, then one shuffle on the doc id for the
   * interval merge. `maxBucket` caps degenerate hot spans (the stop-shingle
   * rule); a span in more documents than that is boilerplate by definition
   * — callers wanting it anyway raise the cap.
   *
   * Interval merge: windows at starts p, q (p<q) overlap or adjoin iff
   * q ≤ p+window, so a run boundary is a gap > window; merged ranges are
   * [min start, max start + window−1]. Output: (id, span_start, span_end,
   * n_windows) with 0-based inclusive token positions.
   */
  def duplicatedSpanRanges(docs: DataFrame, idCol: String, textCol: String,
                           window: Int, maxBucket: Int = 10000): DataFrame = {
    // size-capped collection (empty past maxBucket — same discard rule as
    // a size(occs) <= maxBucket post-filter) keeps the aggregation buffer
    // cap-bounded even for a span appearing in millions of documents
    val marked = spanHashes(docs, idCol, textCol, window)
      .groupBy("h")
      .agg(BoundedCollectAgg.occsCapped(col("id"), col("pos"), lit(1), maxBucket).as("occs"))
      .where(size(array_distinct(transform(col("occs"), o => o.getField("id")))) >= 2)
      .select(explode(col("occs")).as("o"))
      .select(col("o.id").as("id"), col("o.pos").as("pos"))
    mergeSpanRanges(marked, window)
  }

  /**
   * Boilerplate REMOVAL — the consumer of [[duplicatedSpanRanges]]: every
   * token position covered by a duplicated-span interval is cut and the
   * remainder re-joined on single spaces. The "clean the license header /
   * chat template out, keep the document" edit a corpus cleaner actually
   * applies — where doc-level dedup would either keep the boilerplate or
   * drop the whole document. Non-text columns pass through; ALL rows are
   * rebuilt token-joined (single-space canonical), not just edited ones,
   * so output text form is uniform. A doc that was entirely boilerplate
   * comes back as the empty string (callers drop it with the length
   * stage of the cleaning funnel).
   *
   * Shape: the q62 range pipeline + one per-doc interval aggregation
   * (range-cardinality — intervals are post-merge and disjoint, ≤
   * tokens/window per doc) joined back onto the corpus, then ONE narrow
   * compiled pass per row (expressions.CutTokenRanges — whole-stage
   * codegen, sorted-range pointer; never quadratic).
   */
  def cutDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         window: Int, maxBucket: Int = 10000): DataFrame =
    cutSpanRangesFrom(docs, idCol, textCol,
      duplicatedSpanRanges(docs, idCol, textCol, window, maxBucket))

  /**
   * INTRA-document repetition ranges: merged token ranges covered by a
   * `window`-token passage that already occurred EARLIER in the SAME
   * document — degenerate generation loops, stuttered crawl extractions,
   * within-page copy-paste. The first occurrence of each passage is never
   * marked (the cut keeps it); every later occurrence is. Cross-document
   * duplication is deliberately NOT flagged here — that is
   * [[duplicatedSpanRanges]]' job; the two compose (a corpus cleaner runs
   * the self-cut first, so a doc's internal stutter can't vote its
   * passage into the cross-doc boilerplate set multiple times).
   *
   * Shape: one aggregation shuffle on (id, span-hash) — positions collect
   * per DOC-LOCAL key, so every list is bounded by the document's own
   * token count (no cross-doc posting lists, hence no `maxBucket`) — the
   * sorted list drops its head, later occurrences explode back out, then
   * the usual id-keyed interval merge. Same two-exchange plan family as
   * q62.
   */
  def selfRepeatedSpanRanges(docs: DataFrame, idCol: String, textCol: String,
                             window: Int): DataFrame = {
    val marked = spanHashes(docs, idCol, textCol, window)
      .groupBy("id", "h")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .where(size(col("ps")) >= 2)
      .select(col("id"), explode(slice(col("ps"), lit(2), size(col("ps")) - 1)).as("pos"))
    mergeSpanRanges(marked, window)
  }

  /** [[selfRepeatedSpanRanges]] + the cut: every repeated occurrence
    * removed, the first kept, all rows token-rebuilt single-space-joined
    * (the [[cutSpanRangesFrom]] canonical form). The de-stutter edit a
    * cleaner applies where dropping the whole document would lose the one
    * good copy. */
  def cutSelfRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                           window: Int): DataFrame =
    cutSpanRangesFrom(docs, idCol, textCol,
      selfRepeatedSpanRanges(docs, idCol, textCol, window))

  /**
   * Cross-set span ranges — SURGICAL decontamination's detector: merged
   * token ranges of TRAIN documents covered by a `window`-token passage
   * appearing verbatim in ANY eval document. The contamination screens
   * (q52 family) score whole train docs for dropping; this finds exactly
   * WHICH tokens leaked, so [[cutSpanRangesFrom]] can remove the passage
   * and keep the document — the edit a pipeline prefers when a long
   * train document merely quotes one eval item. Within-train duplication
   * is deliberately NOT flagged (that is [[duplicatedSpanRanges]]' job).
   *
   * Shape — simpler than the in-set detector: the eval side collapses to
   * its DISTINCT span-hash set (one aggregation, eval-sized), the train
   * span stream LEFT-SEMI joins it (no pair expansion can occur, so no
   * `maxBucket` is needed; with a small eval set the semi join
   * broadcasts), and the survivors take the usual per-doc interval
   * merge. Train side: one narrow pass + one id-keyed window exchange.
   */
  def crossSetSpanRanges(train: DataFrame, evalDocs: DataFrame, idCol: String,
                         textCol: String, window: Int): DataFrame =
    crossSetSpanRangesFromHashes(train,
      evalSpanHashes(evalDocs, idCol, textCol, window), idCol, textCol, window)

  /** The eval set's DISTINCT span-hash frame (column `h`) — the static
    * side of surgical decontamination. Callers screening many batches
    * (a pipeline loop, a streaming screen) compute it ONCE, checkpoint
    * it, and feed [[crossSetSpanRangesFromHashes]]; re-deriving it per
    * batch re-scans the whole eval set each time. */
  def evalSpanHashes(evalDocs: DataFrame, idCol: String, textCol: String,
                     window: Int): DataFrame =
    spanHashes(evalDocs, idCol, textCol, window).select(col("h")).distinct()

  /** [[crossSetSpanRanges]] over a PRECOMPUTED eval span-hash set. */
  def crossSetSpanRangesFromHashes(train: DataFrame, evalHashes: DataFrame,
                                   idCol: String, textCol: String,
                                   window: Int): DataFrame = {
    val flagged = spanHashes(train, idCol, textCol, window)
      .join(evalHashes.select(col("h")), Seq("h"), "left_semi")
      .select(col("id"), col("pos"))
    mergeSpanRanges(flagged, window)
  }

  /** [[crossSetSpanRanges]] + the cut, SINGLE pass: train documents with
    * every leaked eval passage removed (and all rows token-rebuilt, like
    * [[cutDuplicatedSpans]]). Non-text columns pass through. One-pass
    * caveat (the same seam effect as the in-set cut): removing a passage
    * can join its neighbors into a NEW window that matches another eval
    * span — [[cutEvalPassagesToFixpoint]] closes that; this form is the
    * oracle-gated single round. */
  def cutEvalPassages(train: DataFrame, evalDocs: DataFrame, idCol: String,
                      textCol: String, window: Int): DataFrame =
    cutSpanRangesFrom(train, idCol, textCol,
      crossSetSpanRanges(train, evalDocs, idCol, textCol, window))

  /** [[cutEvalPassages]] iterated until NO window of the edited text
    * matches any eval span (or `maxRounds`) — the decontamination
    * guarantee a single pass cannot give, because cut seams can re-create
    * leaked windows. The eval hash set is computed once; per-round frames
    * checkpoint eagerly and are dereferenced as rounds advance (block
    * reclamation via the context cleaner — the Components-loop pattern). */
  def cutEvalPassagesToFixpoint(train: DataFrame, evalDocs: DataFrame,
                                idCol: String, textCol: String, window: Int,
                                maxRounds: Int = 3): DataFrame =
    cutEvalFixpointFromHashes(train,
      evalSpanHashes(evalDocs, idCol, textCol, window).localCheckpoint(),
      idCol, textCol, window, maxRounds)

  /** The eval fixpoint over a PRECOMPUTED (checkpointed) eval hash set —
    * shared by [[cutEvalPassagesToFixpoint]] and the streaming screen,
    * which computes the static hash set once for the whole stream. */
  private[graft] def cutEvalFixpointFromHashes(train: DataFrame, evalHashes: DataFrame,
                                               idCol: String, textCol: String,
                                               window: Int, maxRounds: Int): DataFrame =
    cutToFixpoint(train.localCheckpoint(), idCol, textCol, maxRounds)(
      crossSetSpanRangesFromHashes(_, evalHashes, idCol, textCol, window))

  /**
   * [[cutDuplicatedSpans]] iterated to a FIXPOINT: one cut pass can
   * juxtapose tokens across a cut boundary into a NEW window that
   * duplicates across documents (doc A's "u v | boiler | w x" cut to
   * "u v w x" may now match doc B); re-detect and re-cut until a pass
   * finds nothing or `maxRounds` is hit. Real corpora rarely need more
   * than 2 rounds — boilerplate seams are short — so the default bound
   * is a safety valve, not a tuning knob. Per-round frames checkpoint
   * eagerly (each feeds the detector AND the next cut — NOTES invariant
   * #4 for iterative loops).
   */
  def cutDuplicatedSpansToFixpoint(docs: DataFrame, idCol: String, textCol: String,
                                   window: Int, maxBucket: Int = 10000,
                                   maxRounds: Int = 3): DataFrame =
    cutToFixpoint(docs.localCheckpoint(), idCol, textCol, maxRounds)(
      duplicatedSpanRanges(_, idCol, textCol, window, maxBucket))

  /** The one fixpoint loop of both span cuts: `detect` the ranges of the
    * current (checkpointed) frame, cut them, repeat until a round detects
    * nothing or `roundsLeft` cuts ran. The detector is the only
    * difference between the eval cut and the in-set cut. */
  @annotation.tailrec
  private def cutToFixpoint(cur: DataFrame, idCol: String, textCol: String,
                            roundsLeft: Int)(detect: DataFrame => DataFrame): DataFrame =
    if (roundsLeft <= 0) cur
    else {
      val ranges = detect(cur).localCheckpoint()
      if (ranges.isEmpty) cur
      else cutToFixpoint(cutSpanRangesFrom(cur, idCol, textCol, ranges).localCheckpoint(),
        idCol, textCol, roundsLeft - 1)(detect)
    }

  /** The edit half of [[cutDuplicatedSpans]], over PRECOMPUTED ranges
    * (an (id, span_start, span_end, …) frame) — callers that also need
    * the ranges (a pipeline reporting which docs were edited) compute
    * them once and feed both consumers. Every column except `textCol`
    * passes through untouched. */
  private[graft] def cutSpanRangesFrom(docs: DataFrame, idCol: String,
                                       textCol: String, ranges: DataFrame): DataFrame = {
    val perDoc = ranges
      .groupBy(col("id").as("__cut_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__rng"))
    // native one-pass edit (graft_cut_ranges) — the transform/filter/
    // exists chain it replaces ran interpreted per token × range; null
    // __rng (no duplicated span) keeps every token
    docs.join(perDoc, docs(idCol) === col("__cut_id"), "left")
      .withColumn(textCol,
        graft.expressions.CutTokenRanges.column(col(textCol), col("__rng")))
      .drop("__cut_id", "__rng")
  }

  /** Interval-merge tail of the span pipeline: (id, pos) rows — one per
    * duplicated window start, unique per (id,pos) by construction — merged
    * into [span_start, span_end] token ranges per doc (gaps-and-islands
    * over the lag/running-sum window). Shared by the batch operator and
    * the streaming ingest screen (IncrementalDedup.stepSpans). */
  private[graft] def mergeSpanRanges(marked: DataFrame, window: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    marked.withColumn("__new",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + window, 1).otherwise(0))
      .withColumn("__grp",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(window - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("id", "span_start", "span_end", "n_windows")
  }

  /**
   * Span-sharing document pairs: for every (a,b) sharing at least
   * `minShared` distinct `window`-token passages, the shared-span count and
   * the longest CONTIGUOUS shared token run (aligned windows at constant
   * positional offset, consecutive starts — run of r windows = r+window−1
   * tokens). The pair-level companion of [[duplicatedSpanRanges]]:
   * ranges say where to cut, this says which documents plagiarize which
   * and how much.
   *
   * Shape: one groupBy on the span hash, cross-doc pair expansion INSIDE
   * each posting list (sorted by (id,pos), upper triangle, same-doc pairs
   * filtered — never a self-join), then a pair-keyed window for the
   * gaps-and-islands run detection. The expanded pair stream feeds two
   * aggregations (distinct-span count + run length), so it is eagerly
   * checkpointed once — it is pair-cardinality, bounded by `maxBucket`.
   */
  def duplicateSpanPairs(docs: DataFrame, idCol: String, textCol: String,
                         window: Int, minShared: Long = 1,
                         maxBucket: Int = 10000): DataFrame = {
    val pairs = spanHashes(docs, idCol, textCol, window)
      .groupBy("h")
      // capped + (id,pos)-sorted (the order the upper-triangle expansion
      // needs); empty past maxBucket, so the buffer never exceeds the cap
      .agg(BoundedCollectAgg.occsCapped(col("id"), col("pos"), lit(1), maxBucket).as("occs"))
      .where(size(array_distinct(transform(col("occs"), o => o.getField("id")))) >= 2)
      // compiled upper-triangle expansion (round 12, graft_sorted_pairs);
      // the same-document filter and field flatten run post-explode at row
      // level inside codegen, where the old crossDocPairs helper ran them
      // as interpreted array lambdas over O(k²) slice copies
      .select(col("h"),
        explode(graft.expressions.SortedPairs.column(col("occs"))).as("p"))
      .where(col("p.id_a.id") =!= col("p.id_b.id"))
      .select(col("h"), col("p.id_a.id").as("id_a"), col("p.id_a.pos").as("pos_a"),
        col("p.id_b.id").as("id_b"), col("p.id_b.pos").as("pos_b"))
      .localCheckpoint() // two aggregation consumers below
    val shared = pairs.groupBy("id_a", "id_b")
      .agg(countDistinct(col("h")).as("shared_spans"))
    // aligned-run islands: within (pair, pos_a−pos_b), consecutive pos_a
    // values share pos_a − row_number() — count each island, keep the max
    val wr = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    val longest = pairs
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("__isl", col("pos_a") - row_number().over(wr))
      .groupBy("id_a", "id_b", "diag", "__isl")
      .agg(count(lit(1)).as("run"))
      .groupBy("id_a", "id_b")
      .agg((max(col("run")) + lit(window - 1).cast("long")).as("longest_token_run"))
    shared.join(longest, Seq("id_a", "id_b"))
      .where(col("shared_spans") >= minShared)
      .select("id_a", "id_b", "shared_spans", "longest_token_run")
  }

  /**
   * SimHash: locality-sensitive signature. Bit j of the signature is 1 iff
   * the sum over tokens of ±1 (sign of bit j of the token hash) is
   * positive. Computed as `bits` conditional sums in one aggregation — no
   * UDF, no per-row loops; near-dups = signatures within small Hamming
   * distance. (A typed counter-array aggregate was measured SLOWER than
   * the wide codegen'd sums — encoder boxing per input row outweighs the
   * expression width; see NOTES.md.)
   */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame =
    // ONE compiled pass per document (round 12, guide §2.4): the signature
    // is a pure per-document function, so the token stream never explodes
    // and the corpus never exchanges on id — the previous shape paid a
    // Generate per token occurrence, an md5 column and a token-cardinality
    // shuffle into the 60 conditional sums. Bit-identical by construction
    // (HashingSpec pins expression ≡ exploded aggregation at 32/60 bits);
    // [[simhashFromHashed]] stays for callers holding a pre-hashed stream.
    docs.select(col(idCol).as("id"),
      graft.expressions.SimhashSig.column(col(textCol), bits).as("simhash"))

  /** id → 60-bit hash per token occurrence (NOT deduplicated — simhash
    * weights by term frequency). Like hashedShingles, a shared staging
    * artifact: every simhash width consumes the same stream. */
  def hashedTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("tok"))
      .select(col("id"), Hashing.stableHash60(col("tok")).as("h"))

  /** SimHash over a (possibly pre-staged) hashed token stream. */
  def simhashFromHashed(toks: DataFrame, bits: Int): DataFrame = {
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b_$j") > 0, lit(1L) * (1L << j)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), sig.as("simhash"))
  }

  /** Near-dup pairs by simhash Hamming distance ≤ maxDist.
    * Candidates via band buckets on signature chunks (each ≤maxDist pair
    * must agree on ≥1 of maxDist+1 chunks — pigeonhole), then exact
    * popcount filter.
    *
    * Chunk width = bits/(maxDist+1) bounds the bucket KEY SPACE at
    * 2^width — with 32-bit signatures and maxDist=3 that is only 256 keys
    * per chunk, so bucket sizes grow linearly with the corpus and the
    * in-bucket pair expansion turns quadratic (measured 17× time at 16×
    * docs in ScaleProbe). Default is therefore 60-bit signatures (the
    * full informative width of the md5-derived 60-bit token hash —
    * requesting 64 would leave the top 4 bits identically zero and
    * collapse the top chunk's key space 16×): 15-bit chunks → 32k keys,
    * buckets stay O(n/32k). Pick bits so that 2^(bits/(maxDist+1)) ≫
    * corpus size / desired bucket size. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3, bits: Int = 60): DataFrame =
    // signatures via the compiled per-document pass (see
    // [[simhashSignatures]])
    simhashNearDupPairsFromSigs(simhashSignatures(docs, idCol, textCol, bits),
      maxDist, bits)

  /** The candidate/verify tail over an (id, simhash) signature frame. */
  private def simhashNearDupPairsFromSigs(sigs: DataFrame, maxDist: Int,
                                          bits: Int): DataFrame = {
    val chunks = maxDist + 1
    val width = bits / chunks
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * width).bitwiseAND((1L << width) - 1).as("key"))
    }
    // within-bucket pair expansion (single pass over the signature stream;
    // see minhashLshCandidates)
    sigs.select(struct(col("id"), col("simhash")).as("item"),
        explode(array(chunkCols: _*)).as("bk"))
      .groupBy(col("bk.chunk"), col("bk.key"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .where(size(col("items")) >= 2)
      .select(explode(pairsFromSorted(col("items"))).as("p"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        col("p.id_a.simhash").as("sig_a"), col("p.id_b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * Fuzzy duplicate pairs at edit distance ≤ 1 via deletion-neighborhood
   * blocking (the FastSS / SymSpell family — public algorithm): every
   * string contributes its |s|+1 depth-1 deletion variants (position 0 =
   * the string itself). If lev(a,b) ≤ 1 the neighborhoods intersect — a
   * substitution at i means both sides delete i to the same string; an
   * insertion/deletion means the shorter string IS a variant of the
   * longer (and of itself). So variant-bucket candidates are COMPLETE;
   * each candidate is then verified with the real levenshtein in its
   * early-abandoning threshold form. Hash collisions only add candidates,
   * which verification removes — output ≡ the naive all-pairs filter
   * (DedupSpec pins it; the q92 oracle re-derives it independently in
   * SQL over raw variant strings, no hashing).
   *
   * 100 TB shape: the variant stream shuffles (id, 8-byte hash) only —
   * the strings never enter the inverted index; one aggregation shuffle,
   * in-bucket pair expansion (never a self-join), candidate strings
   * fetched by two id-joins at the end. `maxBucket` caps degenerate
   * buckets (e.g. millions of equal strings) exactly like the
   * stop-shingle cap; within-cap exactness is unchanged.
   *
   * The two string-fetch joins are pinned to SHUFFLE hash joins: their
   * corpus side is a raw parquet scan, and columnar compression makes
   * the planner's size estimate low enough to elect a broadcast of the
   * whole string table — the on-disk probe hit driver maxResultSize at
   * 1.6M rows exactly this way. The candidate side is pair-sized, so the
   * id-hash shuffle it pins is bounded by the corpus's key column, never
   * by the planner's guess.
   */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxBucket: Int = 10000): DataFrame = {
    val s = col("__s")
    // xxhash64, not the portable stableHash60: this hash is a BLOCKING
    // key only (collisions add candidates, verification removes them —
    // see the scaladoc), never part of the output or the oracle contract,
    // so the engine-native hash applies; it drops an md5 + hex-conv per
    // variant, the stream's dominant per-row cost (~|s| variants/row).
    val variants = df
      .select(col(idCol).as("id"), col(strCol).as("__s"))
      .select(col("id"),
        explode(sequence(lit(0), length(s))).as("__i"), s)
      .select(col("id"), xxhash64(
        when(col("__i") === 0, s).otherwise(concat(
          s.substr(lit(1), col("__i") - 1),
          s.substr(col("__i") + 1, length(s) - col("__i"))))).as("h"))
    // the candidate distinct runs ON the id_a partitioning the string
    // fetch below needs, so the dedup and the first join share ONE
    // exchange (round 12, guide §2.4 "two operations keyed the same way").
    // Unlike the jaccard/overlap pair counts, pre-partitioning loses
    // nothing here: a candidate's multiplicity is ~1 (an edit-distance-1
    // pair shares one deletion variant; only repeated-character edits
    // duplicate), so the partial aggregation the keyed distinct would run
    // before its own exchange has nothing to compress
    val cand = variants.groupBy("h")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsFromSorted(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .repartition(col("id_a"))
      .distinct()
    val strs = df.select(col(idCol).as("id"), col(strCol).as("__str"))
      .hint("shuffle_hash")
    cand
      .join(strs.withColumnsRenamed(Map("id" -> "id_a", "__str" -> "__sa")), Seq("id_a"))
      .join(strs.withColumnsRenamed(Map("id" -> "id_b", "__str" -> "__sb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), 1))
      .where(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  /**
   * Winnowing document fingerprints — the MOSS selection rule (Schleimer,
   * Wilkerson & Aiken, SIGMOD 2003; public algorithm). Over each document's
   * positional k-gram hash stream, slide a window of `w` consecutive hashes
   * and select each window's MINIMUM hash; ties break to the RIGHTMOST
   * position (the robust-winnowing rule — selection then depends only on
   * the window's contents, so edits far away never flip a local
   * fingerprint). A position picked by several windows records once.
   *
   * Why it matters at 100 TB: the paper's two guarantees. (1) Any verbatim
   * match of ≥ w+k−1 tokens between two documents shares at least one
   * selected fingerprint — detection never misses long passages. (2)
   * Expected density is 2/(w+1) — the posting-list index carries ~(w+1)/2×
   * fewer entries than q62's every-window span index, which is the
   * difference between indexing 100 TB of windows and 100 TB/13 of
   * fingerprints at w=25. The sparse index finds WHICH pairs share long
   * passages (see [[fingerprintOverlapPairs]]); the exact range machinery
   * ([[duplicatedSpanRanges]]) then localizes cuts on the candidates only.
   *
   * Documents shorter than one full window (fewer than w k-grams but ≥ 1)
   * winnow their whole hash stream as a single truncated window, so every
   * tokenizable document fingerprints at least once.
   *
   * Shape (round 12, guide §2.4): ZERO exchanges — the selection is a pure
   * per-document function, computed by ONE compiled pass per row
   * ([[graft.expressions.WinnowedSelect]]: hash stream + monotonic-deque
   * sliding min + in-run dedup) and exploded to the (id, pos, h) table.
   * The previous shape posexploded the span stream, exchanged the corpus
   * on the doc id for a frame window `min(struct(h, −pos))`, and paid a
   * distinct aggregation — a token-cardinality shuffle + sort whose only
   * purpose was regrouping each document's own spans (DedupSpec pins the
   * Scala-twin equality, tie-breaking and partitioning independence).
   * Rows are per-document distinct by construction; ids are assumed
   * unique per document (the corpus contract — every caller feeds a
   * keyed table or pre-distincts).
   */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, w: Int): DataFrame = {
    require(w >= 1, "winnow window must be >= 1")
    docs.select(col(idCol).as("id"),
        explode(graft.expressions.WinnowedSelect.column(col(textCol), k, w)).as("__f"))
      .select(col("id"), col("__f.pos").as("pos"), col("__f.h").as("h"))
  }

  /**
   * Fingerprint-overlap pairs — the MOSS match report, and the sparse
   * consumer of [[winnowedFingerprints]]: document pairs sharing ≥
   * `minShared` winnowed fingerprints, with set sizes and jaccard/overlap
   * coefficients over the fingerprint sets. Rides the same single-pass
   * posting-list expansion as q18 ([[overlapPairsFromHashed]]) — but on a
   * 2/(w+1)-density stream, so the aggregation shuffle and the bucket
   * fan-out shrink by ~(w+1)/2× versus shingle-level pairing. By guarantee
   * (1) above, any pair sharing a ≥ w+k−1-token passage appears here; run
   * [[duplicatedSpanRanges]] (or [[duplicateSpanPairs]]) on the flagged
   * candidates to localize the exact ranges.
   */
  def fingerprintOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, w: Int, minShared: Long = 1,
                              maxBucket: Int = 10000): DataFrame =
    overlapPairsFromHashed(
      winnowedFingerprints(docs, idCol, textCol, k, w)
        .select(col("id"), col("h")).distinct(),
      minOverlap = 0.0, maxBucket = maxBucket)
      .where(col("shared") >= minShared)

  /**
   * Sparse span-level dedup — the winnowing-accelerated twin of
   * [[duplicatedSpanRanges]] with a PROVABLE exactness condition. Stage 1
   * flags candidate documents from the winnowed fingerprint index
   * ([[fingerprintOverlapPairs]] at minShared = 1); stage 2 runs the
   * exact positional range machinery ONLY over the flagged documents.
   *
   * Exactness: when fpK + fpW − 1 ≤ window, every duplicated
   * `window`-token passage contains a (fpK+fpW−1)-token verbatim match,
   * so by the winnowing guarantee EVERY pair of documents sharing a
   * duplicated window shares a fingerprint — both members land in the
   * candidate set, the restricted span stream keeps every qualifying
   * posting list intact, and the restricted run returns EXACTLY the full
   * run's ranges (spec-pinned; the gate rides q62's own oracle).
   *
   * Why at 100 TB: [[duplicatedSpanRanges]]' shuffle is
   * occurrence-cardinality over EVERY window of EVERY document. Here the
   * full-corpus pass is the 2/(w+1)-density fingerprint index; the
   * heavyweight positional machinery then touches only the flagged
   * fraction — on a mostly-clean corpus, a few percent. `maxBucket`
   * caps buckets in both stages (the stop-span rule; exactness above is
   * for the uncapped setting, as with every capped operator here).
   */
  def duplicatedSpanRangesSparse(docs: DataFrame, idCol: String,
                                 textCol: String, window: Int,
                                 fpK: Int = 8, fpW: Int = 4,
                                 maxBucket: Int = 10000): DataFrame = {
    require(fpK + fpW - 1 <= window,
      s"exactness needs fpK+fpW-1 <= window, got $fpK+$fpW-1 > $window")
    duplicatedSpanRangesSparseFromFp(
      winnowedFingerprints(docs, idCol, textCol, fpK, fpW),
      docs, idCol, textCol, window, maxBucket)
  }

  /**
   * The pair-probe + exact tail of [[duplicatedSpanRangesSparse]] over an
   * ALREADY-MATERIALIZED fingerprint table `fp` (columns `id`, `h` — the
   * [[winnowedFingerprints]] shape, extra columns ignored). This is the
   * production deployment of the sparse plan: fingerprints are computed
   * ONCE at ingest and stored (the IncrementalDedup signature-store
   * pattern), so each detection run pays only the fingerprint pair probe
   * plus the exact stage on flagged docs — extraction, the dominant cost
   * at small document sizes, is amortized away (measured:
   * ScaleProbe's span_sparse_amz row). Exactness is inherited from the
   * table's construction: the caller owes fpK + fpW − 1 ≤ window.
   */
  def duplicatedSpanRangesSparseFromFp(fp: DataFrame, docs: DataFrame,
                                       idCol: String, textCol: String,
                                       window: Int,
                                       maxBucket: Int = 10000): DataFrame = {
    val candidates = overlapPairsFromHashed(
        fp.select(col("id"), col("h")).distinct(),
        minOverlap = 0.0, maxBucket = maxBucket)
      .where(col("shared") >= 1)
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    duplicatedSpanRanges(docs.join(candidates, Seq(idCol), "left_semi"),
      idCol, textCol, window, maxBucket)
  }

  /**
   * Set-similarity join with PREFIX FILTERING (the AllPairs/PPJoin family
   * — Bayardo et al. 2007, Xiao et al. 2008; public algorithms): the same
   * output as [[jaccardPairsFromHashed]] at threshold `t`, but the
   * inverted index holds only each document's PREFIX — its first
   * |s| − ⌈t·|s|⌉ + 1 shingle hashes under the global hash order —
   * instead of all of them.
   *
   * Why that is sound (the prefix theorem): let x be the SMALLEST shared
   * hash of a qualifying pair (jaccard ≥ t ⟹ overlap o ≥ ⌈t·|a|⌉). In
   * a's sorted set every shared hash sits at or after x, so x's position
   * is ≤ |a| − o + 1 ≤ |a| − ⌈t·|a|⌉ + 1 — inside a's prefix; same for
   * b. So every qualifying pair shares a hash IN BOTH PREFIXES and is
   * generated as a candidate — no false negatives. Candidates are then
   * verified exactly against the full sets (array_intersect on the
   * per-doc sorted hash arrays), so false positives die.
   *
   * Why it matters at 100 TB: at t = 0.8 the index (and with it the
   * posting-list aggregation shuffle and the in-bucket pair expansion —
   * the dominant stages) carries ~20% of the shingle stream; the higher
   * the threshold, the sparser the index, which is exactly the regime
   * near-dup dedup runs in. `maxBucket` caps hot prefix hashes like
   * stop-shingles. Verification joins candidate pairs (already
   * pair-cardinality) to the per-doc set arrays — doc-sized rows, fetched
   * twice per candidate.
   */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         maxBucket: Int = 10000): DataFrame =
    jaccardPairsPrefixFromHashed(hashedShingles(docs, idCol, textCol, n),
      threshold, maxBucket)

  /** [[jaccardPairsPrefix]] over a (possibly pre-staged) hashed shingle
    * stream — the same `sh` contract as [[jaccardPairsFromHashed]] /
    * [[overlapPairsFromHashed]], so a deployment that stores the hashed
    * stream (or a bench that stages it) doesn't re-run the
    * scan+explode+md5 pass per consumer (round 11; the other pair
    * operators have taken a hashed stream since round 3). */
  def jaccardPairsPrefixFromHashed(sh: DataFrame, threshold: Double,
                                   maxBucket: Int = 10000): DataFrame = {
    val (_, afterLength) = prefixStagesFromHashed(sh, threshold, maxBucket)
    verifyPrefixCandidates(afterLength, threshold)
  }

  /** Exact verification tail of [[jaccardPairsPrefix]]: candidate pairs
    * already carrying their set arrays score by array_intersect and keep
    * jaccard ≥ t. Split out (with [[prefixStagesFromHashed]]) so the
    * candidate funnel can be measured stage by stage without forking the
    * logic. */
  private[graft] def verifyPrefixCandidates(withSets: DataFrame,
                                            threshold: Double): DataFrame =
    withSets
      .withColumn("__shared", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("jaccard", col("__shared").cast("double") /
        (col("__na") + col("__nb") - col("__shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** The staged frames of [[jaccardPairsPrefix]]: (per-doc sorted hash
    * sets, filtered candidate pairs joined to both set arrays). Since
    * round 6 the candidate path is [[prefixCandidatePairsPos]] — the
    * length AND positional filters run on the (pos, size) metadata the
    * index already carries, BEFORE the two doc-sized set-array fetches
    * (measured at t=0.8/sf0.1: set-fetch join input 221,519 raw →
    * 80,725 length-only (the r5 shape) → 29,923 with the positional
    * filter, for 256 true pairs; at t=0.9, 20,849 → 7,719 — NOTES.md
    * "PPJoin positional filter", SCALE.md "PPJoin's POSITIONAL filter"). */
  private[graft] def prefixStagesFromHashed(sh: DataFrame, threshold: Double,
                                            maxBucket: Int): (DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val sets = sh
      .groupBy("id").agg(sort_array(collect_list(col("h"))).as("__hs"))
      .withColumn("__sz", size(col("__hs")))
      .localCheckpoint() // consumed by the prefix index AND twice by verify
    val withSets = prefixCandidatePairsPos(sets, threshold, maxBucket)
      .join(sets.select(col("id").as("id_a"), col("__hs").as("__ha"),
        col("__sz").as("__na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__hs").as("__hb"),
        col("__sz").as("__nb")), Seq("id_b"))
    (sets, withSets)
  }

  /**
   * Candidate pairs with PPJoin's LENGTH and POSITIONAL filters (Xiao et
   * al. 2008), both evaluated on index metadata before any set array is
   * fetched. The index entries carry (id, pos-in-sorted-set, set size);
   * per candidate pair, ONE aggregation — the same pair-keyed shuffle
   * cardinality the plain `.distinct()` already paid — keeps the
   * occurrence at the pair's SMALLEST shared hash x. Every shared hash
   * sits at or after x in both sorted sets, so overlap ≤ 1 + min(|a|−i,
   * |b|−j) (positions of x, 1-based); jaccard ≥ t needs overlap ≥
   * t/(1+t)·(|a|+|b|) — candidates whose bound can't reach it die here.
   * Both bound checks run as EXACT integer cross-multiplications on the
   * rational form of the threshold ([[thresholdRational]]): with
   * t = tn/td, the length filter is min·td ≥ tn·max and the positional
   * bound (1 + min(na−ia, nb−ib))·(tn+td) ≥ tn·(na+nb) — no float
   * rounding, no epsilon, boundary pairs admitted at exact equality
   * (the q133 cross-multiplication discipline). Products are bounded:
   * tn, td ≤ 10⁹ and set sizes ≤ ~10⁹ (a multi-GB document), so every
   * product stays ≤ ~2·10¹⁸ < Long.MaxValue.
   *
   * Under `maxBucket` capping the smallest shared hash can sit in a
   * DROPPED hot bucket, so the surviving occurrence's bound may
   * undercount the true overlap and prune a pair that capped generation
   * alone would still have emitted — a new false-negative class beyond
   * the stop-shingle approximation. So the positional filter only runs
   * when the index is uncapped: capped mode keeps exactly the r5
   * candidate set (length filter only — set sizes are exact metadata
   * regardless of capping), and capped prefix output stays equivalent to
   * capped full-index output.
   */
  private[graft] def prefixCandidatePairsPos(sets: DataFrame, threshold: Double,
                                             maxBucket: Int): DataFrame = {
    val prefixLen = (col("__sz") - ceil(col("__sz") * threshold) + 1).cast("int")
    val entries = sets
      .select(col("id"), col("__sz"),
        posexplode(slice(col("__hs"), lit(1), prefixLen)).as(Seq("__i", "h")))
      .select(col("h"), struct(col("id"),
        (col("__i") + 1).cast("long").as("pos"),
        col("__sz").cast("long").as("sz")).as("e"))
    val buckets = entries.groupBy("h")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .where(size(col("es")).between(2, maxBucket))
    // compiled upper-triangle expansion (round 12, graft_sorted_pairs —
    // the interpreted transform(slice…) chain paid O(k²) array copies)
    val raw = buckets.select(col("h"),
        explode(graft.expressions.SortedPairs.column(col("es"))).as("p"))
      .select(col("h"),
        col("p.id_a.id").as("id_a"), col("p.id_a.pos").as("ia"), col("p.id_a.sz").as("na"),
        col("p.id_b.id").as("id_b"), col("p.id_b.pos").as("ib"), col("p.id_b.sz").as("nb"))
    val firstHit = raw.groupBy("id_a", "id_b")
      .agg(min_by(struct(col("ia"), col("ib"), col("na"), col("nb")), col("h")).as("f"))
      .select(col("id_a"), col("id_b"), col("f.ia").as("ia"), col("f.ib").as("ib"),
        col("f.na").as("na"), col("f.nb").as("nb"))
    val (tn, td) = thresholdRational(threshold)
    val lengthFiltered = firstHit
      // length filter (AllPairs): jaccard ≤ min/max of the sizes;
      // min/max ≥ tn/td ⟺ min·td ≥ tn·max (exact integers)
      .where(least(col("na"), col("nb")) * lit(td) >=
        lit(tn) * greatest(col("na"), col("nb")))
    val positioned =
      if (maxBucket < Int.MaxValue) lengthFiltered // see scaladoc: bound unsound under capping
      else lengthFiltered
        // positional filter: overlap ubound at the first shared hash;
        // 1+min ≥ tn/(tn+td)·(na+nb) ⟺ (1+min)·(tn+td) ≥ tn·(na+nb)
        .where((lit(1L) + least(col("na") - col("ia"), col("nb") - col("ib"))) *
          lit(tn + td) >= lit(tn) * (col("na") + col("nb")))
    positioned.select("id_a", "id_b")
  }

  /** Recover a SAFE rational tn/td (reduced) from a double threshold for
    * the admit-only prefix filters. Two cases:
    *
    *  - Decimal-literal thresholds (≤ 9 fractional digits — every gate
    *    call site: 0.5, 0.7, 0.8, 0.9, …): `round(t·10⁹)` reconstructs
    *    the intended rational exactly, and using it is sound against the
    *    double-compare verification because no ratio with a feasible
    *    denominator can sit strictly between the double and the rational
    *    (|p/q − k/10⁹| ≥ 1/(10⁹q) ≥ 10⁻²⁸ for q ≤ 2³², vastly wider than
    *    the ≤ 2⁻⁵² gap between the rational and its nearest double).
    *    Detected by round-trip: `num/1e9` converts back to the input.
    *  - Any other double (e.g. `2.0/3`): rounding could land ABOVE the
    *    double the verification compares against, making the filter
    *    prune true boundary pairs. Fall back to an under-approximation
    *    (`floor − 1`, clamped at 0): the filters may only loosen — the
    *    exact-jaccard verification kills the extra candidates — never
    *    tighten. The 10⁻⁹ margin dwarfs the ≤ 1-ulp (~10⁻¹⁶) rounding of
    *    the verification's double division. */
  private[graft] def thresholdRational(threshold: Double): (Long, Long) = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long =
      if (b == 0L) a else gcd(b, a % b)
    val rounded = math.round(threshold * 1e9)
    val num =
      if (rounded.toDouble / 1e9 == threshold) rounded
      else math.max(0L, math.floor(threshold * 1e9).toLong - 1L)
    val g = gcd(math.max(num, 1L), 1000000000L)
    (num / g, 1000000000L / g)
  }

  /**
   * Threshold-sweep census over a scored near-dup pair frame (id_a, id_b,
   * jaccard) — the tuning table a pipeline computes BEFORE committing to a
   * dedup threshold: for each candidate threshold, how many pairs fire
   * and how many distinct documents get pulled into some pair. Run it
   * once on the (already-materialized) pair frame and the cost of
   * choosing 0.5 vs 0.7 becomes a table lookup instead of a re-run of
   * the whole dedup pipeline.
   *
   * Every threshold emits a row (zeros included — an empty census row is
   * the interesting datum at the strict end). Shape: the pair frame
   * explodes |thresholds|× (a handful), then two group-by-threshold
   * aggregations — pair-cardinality input, never the corpus.
   */
  def dedupSweep(pairs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds.distinct.size == thresholds.size,
      "duplicate thresholds would emit duplicate census rows")
    val spark = pairs.sparkSession
    import spark.implicits._
    val base = thresholds.toDF("threshold")
    // two aggregation consumers below — eager checkpoint so the (possibly
    // expensive) pair pipeline runs once, not per consumer (invariant 4)
    val at = pairs.select(col("id_a"), col("id_b"), col("jaccard"))
      .localCheckpoint()
      .withColumn("threshold",
        explode(array(thresholds.map(lit(_)): _*)))
      .where(col("jaccard") >= col("threshold"))
    val np = at.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = at
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("threshold").agg(countDistinct(col("id")).as("n_docs_in_pairs"))
    // hint the RIGHT (aggregated, ≤|thresholds| rows) sides: a broadcast
    // hint on the preserved side of a left-outer join is unsupported
    // (build-left) and Spark drops it with a HintErrorLogger warning
    base
      .join(broadcast(np), Seq("threshold"), "left")
      .join(broadcast(nd), Seq("threshold"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_in_pairs"))
  }
}

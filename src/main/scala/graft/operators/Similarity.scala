package graft.operators

import graft.expressions.VectorExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over embedding columns
 * (training-data-pipeline extension, SURVEY.md §7.4.7).
 *
 * Scale design: the query set is the small side — always broadcast; the
 * corpus never shuffles for brute force (map-side similarity + per-query
 * top-k). The IVF variant buckets the corpus by nearest centroid so a query
 * probes only nprobe/k of the data — the 100 TB path. Cosine is computed in
 * deterministic double precision (see graft.functions.Vec).
 */
object Similarity {

  /**
   * Brute-force top-k cosine: broadcast(queries) ⨯ corpus → cosine →
   * row_number per query. Exact baseline; cost O(|Q|·|C|·d) map work,
   * one shuffle of |Q|·|C| *rows of (id, score)* — never the vectors.
   */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorExprs.cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /**
   * Assign every vector to its `nprobe` nearest centroids (max cosine, ties →
   * smallest centroid id); one output row per (vector, probed centroid).
   * Centroids are broadcast; assignment is one aggregation keyed by the
   * vector id — no O(n²) stage. The broadcast fan-out collapses map-side
   * (partial aggregation), so the shuffle carries one row per vector
   * regardless of centroid count.
   */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    // ONE compiled per-row pass over a one-row broadcast centroid array
    // (round 12): the selection is a pure per-row function of (embedding,
    // centroid set), but the previous shape enumerated vectors × centroids
    // through a broadcast join and re-aggregated per vector (max_by at
    // nprobe=1, BoundedTopKAgg above) — n·k intermediate rows plus a
    // vec_id-keyed aggregation whose only purpose was undoing the
    // enumeration. graft_top_centroids preserves each branch's tie/NaN
    // contract exactly (Spark struct ordering for the argmax, the bounded
    // top-k's total ordering on the negated cosine for nprobe>1);
    // SimilaritySpec pins assignment values and q22/q23/q24 stay
    // oracle-EXACT at all three SFs.
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cv")))).as("cents"))
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        explode(graft.expressions.TopCentroids.column(col("embedding"),
          col("cents"), nprobe, sparkTies = nprobe == 1)).as("centroid_id"),
        col("embedding"))
  }

  /**
   * Two-level (coarse/fine) centroid assignment — the billion-row scale
   * path that breaks the n·k term of flat assignment (SCALE.md similarity
   * section). Same output shape as [[assignToCentroids]]; the nearest-fine
   * choice becomes APPROXIMATE (a vector only scores fine centroids
   * reachable through its nearest coarse group).
   *
   *  - ~√k coarse representatives are drawn deterministically from the
   *    fine centroids (every ⌈k/√k⌉-th in md5 order);
   *  - each FINE centroid registers with its `fineReplication` nearest
   *    coarse groups (boundary padding: a vector near a coarse frontier
   *    still sees fine centroids that "belong" to the neighbor group);
   *  - each vector scores coarse (n·√k), then only the fine members of
   *    its nearest coarse group (n · √k·fineReplication on average).
   *
   * Total ≈ n·√k·(1+fineReplication) vs flat n·k — sub-n·k for k ≫
   * (1+fineReplication)². Agreement with flat assignment and the
   * sub-n·k growth are pinned by SimilaritySpec + ScaleProbe.
   */
  def assignToCentroidsHier(vectors: DataFrame, centroids: DataFrame, nprobe: Int = 1,
                            fineReplication: Int = 2): DataFrame = {
    val k = centroids.count() // centroid set is small by contract — cheap action
    val ck = math.max(1L, math.round(math.sqrt(k.toDouble)))
    val step = math.max(1L, k / ck)
    val coarse = centroids
      .select(col("vec_id"), col("embedding"),
        row_number().over(Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))).as("__rn"))
      .where((col("__rn") - 1) % step === 0)
      .select(col("vec_id"), col("embedding"))
    // fine → its nearest coarse groups; k·fineReplication rows, broadcast-size
    val fineToCoarse = assignToCentroids(centroids, coarse, nprobe = fineReplication)
      .select(col("centroid_id").as("__coarse_id"),
        col("vec_id").as("__fine_id"), col("embedding").as("__fine_emb"))
    val vecCoarse = assignToCentroids(vectors, coarse, nprobe = 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("__coarse_id"))
    val scored = vecCoarse.join(broadcast(fineToCoarse), Seq("__coarse_id"))
      .select(col("vec_id"), col("embedding"), col("__fine_id"),
        VectorExprs.cosine(col("embedding"), col("__fine_emb")).as("ccos"))
    // identical reduction (and tie-break) to the flat path
    if (nprobe == 1)
      scored.groupBy("vec_id")
        .agg(
          max_by(col("__fine_id"), struct(col("ccos"), -col("__fine_id"))).as("centroid_id"),
          first(col("embedding")).as("embedding"))
    else
      scored.groupBy("vec_id")
        .agg(
          graft.expressions.BoundedTopKAgg
            .topIdsByKey(-col("ccos"), col("__fine_id"), nprobe).as("tops"),
          first(col("embedding")).as("embedding"))
        .select(col("vec_id"), explode(col("tops")).as("centroid_id"), col("embedding"))
  }

  /**
   * IVF (inverted-file) ANN: partition corpus by nearest centroid; a query
   * searches only its own nearest-centroid bucket (nprobe=1). Deterministic
   * given a deterministic centroid choice, so it is exactly verifiable —
   * recall vs brute force is the usual IVF trade, throughput scales with
   * #buckets. At production scale the bucketed corpus would be written
   * `partitionBy(centroid_id)` once and probed with partition pruning.
   */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: Int,
             nprobe: Int = 1): DataFrame = {
    val assignedCorpus = assignToCentroids(corpus, centroids)
      .withColumnsRenamed(Map("vec_id" -> "neighbor_id", "embedding" -> "cv"))
    // multi-probe applies to the QUERY side only: a query searches its
    // nprobe nearest buckets; the corpus stays single-assigned (each vector
    // stored once — the inverted-file invariant)
    val assignedQueries = assignToCentroids(queries, centroids, nprobe)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "embedding" -> "qv"))
    val hits = broadcast(assignedQueries)
      .join(assignedCorpus, Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorExprs.cosine(col("qv"), col("cv")).as("cosine"))
    // a corpus vector is in exactly one bucket, so probes never duplicate a
    // (query, neighbor) pair — no dedup stage needed at any nprobe
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /**
   * Deterministic random-hyperplane (signed random projection) LSH:
   * bit j of the signature = sign of dot(v, h_j) for `bits` fixed
   * hyperplanes. P(bit differs) = angle/π, so near-parallel vectors share
   * signatures; candidates come from exact-signature buckets (optionally
   * banded like minhash). Hyperplanes derive from a fixed seed —
   * deterministic, so signatures are externally verifiable.
   *
   * Complements centroid bucketing: no centroid-selection step, works on
   * corpora with no cluster structure; bucket count is 2^bits, so pick
   * bits ≈ log2(corpus/targetBucket) (same key-space rule as simhash).
   */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def rpLshSignatures(vectors: DataFrame, planes: Array[Array[Double]]): DataFrame = {
    val sig = planes.zipWithIndex.map { case (h, j) =>
      // codegen dot against the literal plane — same strict left-to-right
      // association as the unrolled per-coefficient sum (bit-equal), but a
      // single expression node per plane instead of one per coefficient
      val dot = VectorExprs.dotFD(col("embedding"), lit(h))
      when(dot > 0.0, lit(1L) * (1L << j)).otherwise(0L)
    }.reduce(_ + _)
    vectors.select(col("vec_id"), sig.as("rp_sig"))
  }

  /** Candidate near-dup pairs: vectors sharing the full signature bucket. */
  def rpLshCandidates(vectors: DataFrame, planes: Array[Array[Double]]): DataFrame =
    rpLshSignatures(vectors, planes)
      .groupBy(col("rp_sig"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .where(size(col("ids")) >= 2)
      // compiled upper-triangle expansion (round 12, graft_sorted_pairs)
      .select(explode(graft.expressions.SortedPairs.column(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

  /**
   * Exact embedding near-duplicate pairs: every (a,b), a<b, with cosine ≥
   * threshold. O(n²) pair enumeration — the correctness baseline the
   * bucketed variant below is verified against. Run it only on bounded
   * corpora (or per-bucket inside the centroid variant).
   */
  def exactNearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = vectors.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), VectorExprs.cosine(col("va"), col("vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /**
   * Embedding near-duplicate pairs, bucketed-approximate: pairs with cosine ≥
   * threshold AMONG vectors sharing one of their `nprobe` nearest centroids.
   * The pair join stays within buckets instead of O(n²) over the corpus —
   * this IS the operator's contract (like IVF search, recall < 1 by design):
   * truly near-identical vectors share a centroid with overwhelming
   * probability; moderate-similarity pairs are found only if bucketing
   * co-locates them, and multi-probe (nprobe ≥ 2) widens that net. Verified
   * bit-exactly against an oracle expressing the same bucketed contract;
   * exactNearDupPairs above is the exhaustive baseline for recall checks.
   *
   * The centroid COUNT is the scaling contract: in-bucket work is
   * Σ bucket² ≈ n²·nprobe²/k for k centroids, so k must grow with the
   * corpus — k ≈ n / targetBucketSize (e.g. 1000-row buckets), not a
   * constant (ScaleProbe measured the fixed-k quadratic: 10× time at 16×
   * rows).
   */
  def embeddingNearDupPairs(vectors: DataFrame, centroids: DataFrame, threshold: Double,
                            nprobe: Int = 1, maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialize the assignment ONCE: the pair self-join reads it from
    // both sides (and the cap's bucket count a third time) — left lazy,
    // each reference re-runs the full n×k scoring pass (measured ~2× the
    // whole operator at 80k rows).
    val probed = assignToCentroids(vectors, centroids, nprobe).localCheckpoint()
    // Hot-bucket cap, same control as the text-LSH maxBucket: centroid
    // assignment is skew-prone (second-probe choices pile onto popular
    // centroids — ScaleProbe measured 8× at 16× rows without the cap), and
    // one oversized bucket turns the in-bucket join quadratic. Dropping a
    // bucket above the cap loses only pairs whose SOLE shared bucket was
    // the hot one — the trade every production near-dup pipeline makes.
    val assigned =
      if (maxBucket == Int.MaxValue) probed
      else {
        val ok = probed.groupBy("centroid_id").count()
          .where(col("count") <= maxBucket).select("centroid_id")
        probed.join(broadcast(ok), Seq("centroid_id"))
      }
    val a = assigned.select(col("centroid_id"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), VectorExprs.cosine(col("va"), col("vb")).as("cosine"))
      .where(col("cosine") >= threshold)
    // multi-probe can surface the same pair from two shared buckets; the
    // cosine is bit-identical on both rows, so a plain distinct dedups it
    if (nprobe == 1) pairs else pairs.distinct()
  }

  /**
   * Deterministic mean-pooling: element-wise mean of a group's vectors —
   * chunk embeddings → document embedding, the standard aggregation
   * between a chunk-level encoder and doc-level retrieval/dedup. Built
   * ORDER-INDEPENDENTLY (the engine's determinism rule): positions
   * explode, each (group, position) sums through DECIMAL — so a
   * 1000-executor reduction never adds floats in two different orders —
   * and the array reassembles sorted by position. Two aggregations, both
   * shuffling aggregated (group×dim) cardinality, not raw vectors; a
   * float-buffer typed Aggregator would be one shuffle but
   * partition-order-dependent in the low bits, which breaks the
   * hash-verifiable contract every other operator keeps.
   */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String,
               as: String = "embedding"): DataFrame = {
    import graft.operators.Aggregates.exactAvg
    df
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(exactAvg(col("v").cast("double")).as("m"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("s"))
      .select(col(groupCol),
        transform(col("s"), x => x.getField("m").cast("float")).as(as))
  }

  /**
   * End-to-end semantic dedup: bucketed embedding near-dup pairs →
   * connected components → smallest-id keeper per cluster — the
   * embedding-space twin of the text pipeline's q36 (pairs from cosine
   * buckets instead of shared shingles; identical group/keeper machinery).
   * Returns (id, keep_id, is_keeper) for every vector that appears in ANY
   * near-dup pair; vectors with no near-dup are implicit keepers — the
   * sparse representation, since at 100 TB the pair stream is tiny next
   * to the corpus and a dense corpus-sized label table would dwarf it.
   */
  def semanticDedupGroups(vectors: DataFrame, centroids: DataFrame, threshold: Double,
                          nprobe: Int = 2, maxBucket: Int = Int.MaxValue): DataFrame =
    graft.operators.Components.dedupGroups(
      embeddingNearDupPairs(vectors, centroids, threshold, nprobe, maxBucket))

  /**
   * Symmetric per-vector int8 quantization — the storage/serving form of
   * an embedding corpus (4× smaller than float32; recall loss is
   * negligible at 8 bits for cosine retrieval). scale = max|x|/127;
   * q_i = floor(x_i/scale + 0.5) ∈ [−127, 127] (round-half-up written as
   * an explicit floor so external SQL reproduces it bit-for-bit — the
   * engines' round() builtins disagree on half-even vs half-away).
   * All-zero vectors quantize to all-zero with scale 0.
   *
   * Scale shape: one narrow projection, zero shuffles — the max, the
   * division and the rounding all run inside the row over the array
   * (100 TB quantizes at scan speed). Output: vec_id, scale, qvec.
   */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    val xd = transform(col(embCol), x => x.cast("double"))
    val maxabs = array_max(transform(xd, x => abs(x)))
    val qvec = when(maxabs === 0.0d, transform(xd, _ => lit(0L)))
      .otherwise(transform(xd, x => floor(x / (maxabs / 127.0d) + 0.5d)))
    vectors.select(col(idCol).as("vec_id"),
      (maxabs / 127.0d).as("scale"), qvec.as("qvec"))
  }

  /**
   * Per-label mean embeddings (class centroids) — the aggregated artifact
   * behind label-space diagnostics. Means run through DECIMAL sums cast to
   * double before the (double/count) division, then round to float — the
   * exactAvg shape, order-independent and reproducible in external SQL
   * (decimal÷count division rules differ between engines; double division
   * does not). One aggregation; output cardinality = |labels|.
   */
  def labelCentroids(vectors: DataFrame, labelCol: String = "label",
                     embCol: String = "embedding"): DataFrame =
    vectors
      .select(col(labelCol).as("label"), posexplode(col(embCol)).as(Seq("i", "xf")))
      .select(col("label"), col("i"), col("xf").cast("double").as("x"))
      .groupBy("label", "i")
      .agg((sum(col("x").cast("decimal(28,8)")).cast("double") / count(col("x")))
        .cast("float").as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /**
   * Label-noise / class-separation diagnostics: for every vector, cosine
   * to its OWN class centroid, the nearest OTHER class (ties → smallest
   * label), and the margin between them. Negative margin = the vector sits
   * closer to another class's centroid than its own — the standard cheap
   * mislabel screen run before training on a labeled corpus.
   *
   * Scale shape: the centroid set (|labels| rows) collapses to a ONE-ROW
   * broadcast array, so scoring is a narrow per-row pass (|labels| codegen
   * cosines inside the row) — zero shuffles over the corpus; only the
   * centroid aggregation itself shuffles (dimension-cardinality rows).
   */
  def labelMargins(vectors: DataFrame, labelCol: String = "label",
                   embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val centsArr = labelCentroids(vectors, labelCol, embCol)
      .agg(array_sort(collect_list(struct(col("label"), col("centroid")))).as("cents"))
    val scores = transform(col("cents"), c =>
      struct(c.getField("label").as("c_label"),
        VectorExprs.cosine(col(embCol), c.getField("centroid")).as("cos")))
    val own = element_at(filter(col("scores"), s =>
      s.getField("c_label") === col("label")), 1).getField("cos")
    // nearest other class, ties → smallest label: max cosine first, then
    // the min label among the argmax set — no arithmetic negation, so the
    // label column keeps its own type (string labels work; non-int
    // numerics are not truncated). The equality filter compares a value
    // read back out of the same array, so it is exact.
    val others = filter(col("scores"), s => s.getField("c_label") =!= col("label"))
    val bestCos = array_max(transform(others, s => s.getField("cos")))
    val nearestOther = array_min(transform(
      filter(others, s => s.getField("cos") === bestCos),
      s => s.getField("c_label")))
    vectors.select(col(idCol).as("vec_id"), col(labelCol).as("label"), col(embCol))
      .crossJoin(broadcast(centsArr))
      .withColumn("scores", scores)
      .select(col("vec_id"), col("label"),
        own.as("own_cos"),
        nearestOther.as("nearest_other_label"),
        bestCos.as("other_cos"),
        (own - bestCos).as("margin"))
  }

  /**
   * Cross-set SEMANTIC contamination screen — the embedding-space member of
   * the decontamination family (exact shingle overlap:
   * `Dedup.crossSetContamination`; verbatim span cut:
   * `Dedup.cutEvalPassages`): for every train vector, the nearest EVAL-set
   * vector by cosine and whether it clears the flag threshold. Catches the
   * leak the other two cannot — a paraphrased benchmark item shares no
   * 3-gram with its source, but its embedding still sits next to it.
   *
   * Ties at the max cosine resolve to the smallest eval id (same
   * negation-free argmax-set pattern as [[labelMargins]], so ids keep
   * their type). An empty eval set flags nothing (null nearest/cosine,
   * `flagged` false) rather than failing — a release screened against a
   * not-yet-populated benchmark suite passes through.
   *
   * Scale shape: the eval set (benchmark suites — thousands of rows, not
   * corpus-scale) collapses to a ONE-ROW broadcast array, so screening is
   * a narrow per-row pass (|eval| codegen cosines inside the row) — ZERO
   * shuffles over the train corpus; only the eval collapse itself runs a
   * (|eval|-bounded) single-partition aggregation. `maxEval` bounds that
   * array: exceeding it raises at execution rather than silently building
   * an over-broadcast plan (for eval sets past broadcast size, bucket both
   * sides with [[assignToCentroids]] and pair in-bucket — the q23 shape).
   */
  def semanticContamination(train: DataFrame, evalSet: DataFrame,
                            idCol: String = "vec_id", embCol: String = "embedding",
                            threshold: Double = 0.8,
                            maxEval: Int = 1 << 20): DataFrame = {
    val evalArr = evalSet
      .agg(array_sort(collect_list(struct(col(idCol).as("id"), col(embCol).as("emb"))))
        .as("evals"))
      // the guard lives in a filter (never pruned away): assert_true
      // returns null when the bound holds, so the row always survives
      .where(assert_true(size(col("evals")) <= maxEval,
        lit(s"semanticContamination: eval set exceeds maxEval=$maxEval")).isNull)
    // ONE compiled arg-max pass per train row (round 12): the previous
    // transform→array_max→filter→array_min chain ran interpreted per eval
    // element (higher-order functions are CodegenFallback) and allocated a
    // score struct per (train, eval) pair; graft_nearest_eval folds the
    // cosine and the smallest-id tie rule in a tight loop with identical
    // semantics (SimilaritySpec pins brute-force equality, ties, the
    // empty-eval pass-through)
    train.select(col(idCol).as("train_id"), col(embCol))
      .crossJoin(broadcast(evalArr))
      .withColumn("__nn",
        graft.expressions.NearestEval.column(col(embCol), col("evals")))
      .select(col("train_id"),
        col("__nn.eval_id").as("nearest_eval_id"),
        col("__nn.cos").as("eval_cos"),
        coalesce(col("__nn.cos") >= threshold, lit(false)).as("flagged"))
  }

  // ------------------------------------------------------------------ PQ

  /**
   * Product quantization — the memory-compression scale path for embedding
   * corpora (Jégou et al., "Product Quantization for Nearest Neighbor
   * Search", 2011; public knowledge). The embedding splits into `m` equal
   * subspaces; each subspace gets its own small codebook; a vector is
   * stored as `m` codeword ids (64 float32 dims → 4 ids ≈ 16-64× smaller).
   * At 100 TB the codes table is what sits in executor memory / the serving
   * tier — the float corpus is read once at encode time and never again.
   *
   * Codebook frame shape (shared by all PQ operators): one row per
   * (subspace, cw_id, cw) where `cw` is the codeword's subvector.
   * [[pqCodebooks]] derives one from designated codeword rows (the naive,
   * externally-recomputable convention — same role as q24's `vec_id % 50`
   * centroids); [[pqTrainCodebooks]] runs per-subspace deterministic
   * k-means (the production path — codebooks should minimize in-subspace
   * residual energy, which is exactly per-subspace Lloyd's).
   *
   * Assignment metric is squared L2 per subspace (the standard PQ metric —
   * cosine is meaningless on subvectors whose norms differ), ties → the
   * smallest codeword id; every float folds left-to-right in double, so
   * codes are bit-reproducible in external SQL.
   */
  def pqCodebooks(codewordRows: DataFrame, m: Int, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame =
    codewordRows
      .select(col(idCol).as("cw_id"), col(embCol).as("__emb"),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"))
      .select(col("subspace"), col("cw_id"),
        slice(col("__emb"), col("subspace") * (size(col("__emb")) / m) + 1,
          size(col("__emb")) / m).as("cw"))

  /** Per-subspace deterministic k-means codebooks: subspace s's codebook =
    * [[trainCentroidsL2]] over the corpus restricted to that slice (codeword
    * ids are the trainer's 1..k). The L2 trainer, not the cosine one — PQ
    * encodes by squared-L2 residual, and a cosine-trained codebook is
    * norm-blind on subvectors (measurably WORSE than naive codewords on
    * clustered data; SimilaritySpec pins the trained-beats-naive direction).
    * m driver-sequential trainings of k centroids each — codebook training
    * is sample-bounded and tiny next to the encode pass it feeds. */
  def pqTrainCodebooks(vectors: DataFrame, m: Int, k: Int, iters: Int = 5,
                       idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val sub = size(col(embCol)) / m
    (0 until m).map { s =>
      trainCentroidsL2(
        vectors.select(col(idCol).as("vec_id"),
          slice(col(embCol), lit(s) * sub + 1, sub).as("embedding")),
        k, iters)
        .select(lit(s).as("subspace"), col("vec_id").as("cw_id"), col("embedding").as("cw"))
    }.reduce(_.unionByName(_))
  }

  /**
   * Encode every vector as its `m` nearest-codeword ids. The codebook
   * collapses to a ONE-ROW broadcast array (m·k subvectors ≈ k full
   * vectors — always tiny), so encoding is a narrow per-row pass with ZERO
   * corpus shuffles: the 100 TB corpus encodes at scan speed, exactly like
   * quantizeInt8. Output: (vec_id, code: array<bigint>, ordered by
   * subspace).
   */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame, m: Int,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol).as("vec_id"), col(embCol))
      .crossJoin(broadcast(cbOneRow(codebooks)))
      .select(col("vec_id"), pqCodeExpr(col(embCol), m).as("code"))

  /** The codebook frame collapsed to a ONE-ROW sorted array (m·k codeword
    * subvectors ≈ k full vectors — always tiny), the broadcast shape every
    * PQ consumer shares. */
  private def cbOneRow(codebooks: DataFrame): DataFrame =
    codebooks
      .agg(array_sort(collect_list(struct(col("subspace"), col("cw_id"), col("cw")))).as("cb"))

  /** `m` nearest-codeword ids for `emb` (needs the `cb` one-row array in
    * scope): per-subspace argmin over struct (d asc, cw_id asc), so ties
    * resolve to the smallest codeword id. */
  private def pqCodeExpr(emb: Column, m: Int): Column = {
    val sub = size(emb) / m
    val codes = (0 until m).map { s =>
      val sv = slice(emb, lit(s) * sub + 1, sub)
      val scored = transform(
        filter(col("cb"), c => c.getField("subspace") === s),
        c => struct(VectorExprs.l2sq(sv, c.getField("cw")).as("d"),
          c.getField("cw_id").as("cw_id")))
      array_min(scored).getField("cw_id")
    }
    array(codes: _*)
  }

  /** Codeword concatenation for the `code` column in subspace order (needs
    * `cb` and `code` in scope). */
  private def pqReconExpr(m: Int): Column =
    (0 until m).map { s =>
      element_at(filter(col("cb"), c =>
        c.getField("subspace") === s &&
          c.getField("cw_id") === element_at(col("code"), s + 1)), 1).getField("cw")
    }.reduce(concat(_, _))

  /** Reconstruct the quantized approximation of each coded vector: the
    * concatenation of its codewords in subspace order. Same one-row
    * broadcast codebook, zero shuffles over the codes table. */
  def pqDecode(codes: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    codes.crossJoin(broadcast(cbOneRow(codebooks)))
      .select(col("vec_id"), pqReconExpr(m).as("embedding"))

  /**
   * Asymmetric-distance top-k over the PQ-compressed corpus: TRUE query
   * vectors score against on-the-fly reconstructions (asymmetric = only the
   * corpus side is quantized — measurably better recall than code-vs-code,
   * per the PQ paper). Same broadcast-queries / corpus-never-shuffles /
   * WindowGroupLimit shape as [[bruteForceKnn]].
   *
   * Scoring reconstructs then takes one codegen cosine over the full
   * vector (fixed left-to-right association — externally verifiable). A
   * serving-tier ADC would precompute the m×k LUT per query and sum m
   * lookups instead; that changes the float association order (per-subspace
   * partial sums), so we deliberately keep the reconstruction order — same
   * flops, hash-verifiable, and the memory win (codes + small codebook
   * resident, floats transient per row) is identical.
   */
  def pqAdcKnn(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
               m: Int, k: Int): DataFrame =
    bruteForceKnn(pqDecode(codes, codebooks, m), queries, k)

  /**
   * One-pass IVF-PQ index build: (vec_id, centroid_id, code) — the standard
   * composed ANN index (Jégou et al. 2011): a coarse inverted file prunes
   * the candidate set, PQ codes shrink what remains to ids. Both the coarse
   * cosine argmax and the per-subspace L2 argmins run against one-row
   * broadcast arrays, so the 100 TB corpus indexes at scan speed with ZERO
   * shuffles ([[assignToCentroids]]'s aggregation shape isn't needed on the
   * build side — an index entry lives in exactly one inverted list). Same
   * tie-breaks as assignToCentroids (max cosine, ties → smallest centroid
   * id; the (0.0 − cos, id) struct-min avoids negating ids) and
   * [[pqEncode]], so the composed index is externally re-derivable. At
   * production scale the output would be written `partitionBy(centroid_id)`
   * once, making every probe a pruned partition read.
   */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame, m: Int,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv")))).as("cents"))
    val best = array_min(transform(col("cents"),
      c => struct((lit(0.0) - VectorExprs.cosine(col(embCol), c.getField("cv"))).as("d"),
        c.getField("cid").as("cid"))))
    corpus.select(col(idCol).as("vec_id"), col(embCol))
      .crossJoin(broadcast(centArr))
      .crossJoin(broadcast(cbOneRow(codebooks)))
      .select(col("vec_id"), best.getField("cid").as("centroid_id"),
        pqCodeExpr(col(embCol), m).as("code"))
  }

  /**
   * IVF-PQ search: a query probes its `nprobe` nearest centroids and only
   * codes in the probed inverted lists reconstruct and score (asymmetric
   * distance — true query vs codeword reconstruction). Per-query work is
   * nprobe·(n/k) candidates instead of n, with PQ's memory win on top of
   * the pruning win: at query time the floats never load at all — only
   * ids + codes move. Queries broadcast (the bounded side); the index
   * table never shuffles before the per-query top-k window
   * (WindowGroupLimit-pushed). A corpus vector lives in exactly one list
   * and a query's probed lists are distinct, so probes never duplicate a
   * candidate — no dedup stage at any nprobe (the [[ivfKnn]] invariant).
   */
  def ivfPqKnn(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
               queries: DataFrame, m: Int, k: Int, nprobe: Int = 1): DataFrame = {
    val aq = assignToCentroids(queries, centroids, nprobe)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "embedding" -> "qv"))
    val hits = index.join(broadcast(aq), Seq("centroid_id"))
      .where(col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(cbOneRow(codebooks)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorExprs.cosine(col("qv"), pqReconExpr(m)).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /**
   * Exact re-rank stage — the standard second stage of quantized ANN
   * serving (Jégou et al. 2011 §V): a cheap approximate searcher (ADC,
   * IVF-PQ) proposes `candidates` (query_id, neighbor_id) pairs, and the
   * TRUE float vectors — which are on disk anyway — re-score just those
   * pairs, recovering exact-tier recall at ~C/n of brute-force cost.
   * Without it, raw asymmetric-distance order ships quantization noise as
   * ranking (recall@5 ≈ 0.12 on near-isotropic embeddings at m=4).
   *
   * Scale shape: the candidate frame is queries·C rows — the BOUNDED side —
   * so it broadcasts into the corpus scan (the 100 TB float table never
   * shuffles and only the candidate rows' vectors are ever touched by the
   * cosine); queries broadcast as in [[bruteForceKnn]]; the final top-k is
   * the same WindowGroupLimit-pushed per-query window. Ties → smallest
   * neighbor id, the family-wide rule.
   */
  def rerankExact(candidates: DataFrame, vectors: DataFrame, queries: DataFrame,
                  k: Int, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val cand = broadcast(candidates.select(col("query_id"), col("neighbor_id")))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(embCol).as("qv")))
    val hits = vectors.select(col(idCol).as("neighbor_id"), col(embCol).as("nv"))
      .join(cand, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorExprs.cosine(col("qv"), col("nv")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** [[pqAdcKnn]] top-`candC` proposals re-scored exactly by [[rerankExact]]
    * — the shippable PQ search. `vectors` is the original float table the
    * codes were encoded from. Default candC = 200: C must cover the ADC
    * tie sets quantization creates (the C-vs-tie-set law, SCALE.md) —
    * measured on the near-isotropic sf0.1 corpus (SCALE.md "ANN recall &
    * data geometry", trained codebooks), recall@5 vs brute force is 0.46 at C = 50 vs
    * 0.80 at C = 200; the re-rank touches only queries·C candidate rows
    * either way, so the wider C is cheap. */
  def pqAdcKnnReranked(codes: DataFrame, codebooks: DataFrame, vectors: DataFrame,
                       queries: DataFrame, m: Int, k: Int,
                       candC: Int = 200): DataFrame = {
    require(candC >= k, s"candC ($candC) must be >= k ($k)")
    rerankExact(pqAdcKnn(codes, codebooks, queries, m, candC), vectors, queries, k)
  }

  /** [[ivfPqKnn]] top-`candC` proposals re-scored exactly by [[rerankExact]]
    * — the shippable IVF-PQ search (coarse pruning + PQ memory win + exact
    * final order over C candidates).
    *
    * Defaults = the MEASURED operating point on the worst-case (near-
    * isotropic) corpus, not the cheapest dial: the r7 sweep over nprobe ∈
    * {1,4,8} × candC ∈ {50,200} on the sf0.1 embeddings (trained coarse +
    * trained codebooks + re-rank) gives 0.22/0.22, 0.38/0.42, 0.46/0.60
    * — coarse pruning is the recall ceiling (C = 200 already recovers the
    * plain-IVF ceiling at np4: 0.42 both), so the knee is np8 × C200 =
    * 0.60. On clusterable data the same defaults sit at recall 1.00
    * (ClusteredFixture, SimilaritySpec). Callers on provably clustered
    * corpora can lower nprobe; callers needing >0.6 recall on isotropic
    * data should use [[bruteForceKnn]] — no index helps there (SCALE.md
    * "ANN recall & data geometry").
    */
  def ivfPqKnnReranked(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                       vectors: DataFrame, queries: DataFrame, m: Int, k: Int,
                       nprobe: Int = 8, candC: Int = 200): DataFrame = {
    require(candC >= k, s"candC ($candC) must be >= k ($k)")
    rerankExact(ivfPqKnn(index, centroids, codebooks, queries, m, candC, nprobe),
      vectors, queries, k)
  }

  /**
   * Bucketed hard-negative mining for contrastive training: for every
   * anchor vector, the top-`k` most-cosine-similar vectors carrying a
   * DIFFERENT label, searched among vectors sharing one of the anchor's
   * `nprobe` nearest centroid buckets. Hard negatives (similar embedding,
   * different label) are what make contrastive/metric objectives sharpen —
   * random negatives are trivially separable (public knowledge; e.g. the
   * DPR/SimCLR line of work).
   *
   * Every anchor mines, so a broadcast-queries shape is impossible — this
   * is the [[embeddingNearDupPairs]] regime instead: centroid assignment
   * stays a zero-shuffle one-row-broadcast argmax (labels ride along — no
   * re-join), the bucket equi-join shuffles on centroid_id, in-bucket work
   * is Σ bucket² ≈ n²·nprobe/k, so k grows with the corpus (the
   * centroid-count law). The corpus side is single-assigned and an
   * anchor's probes are distinct buckets, so candidates never duplicate.
   * NULL-labeled vectors drop from both sides (a null can't assert
   * "different"). Ties → smallest negative id.
   */
  def hardNegatives(vectors: DataFrame, centroids: DataFrame, k: Int,
                    nprobe: Int = 1, idCol: String = "vec_id",
                    embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv")))).as("cents"))
    // (0.0 − cos, cid) ascending ≡ cosine desc with smallest-id tie-break —
    // the assignToCentroids contract as a pure per-row expression
    val ranked = array_sort(transform(col("cents"),
      c => struct((lit(0.0) - VectorExprs.cosine(col(embCol), c.getField("cv"))).as("d"),
        c.getField("cid").as("cid"))))
    val base = vectors.where(col(labelCol).isNotNull)
      .crossJoin(broadcast(centArr))
    val anchors = base.select(col(idCol).as("anchor_id"), col(embCol).as("av"),
      col(labelCol).as("albl"),
      explode(transform(slice(ranked, 1, nprobe), p => p.getField("cid"))).as("centroid_id"))
    val corpus = base.select(col(idCol).as("negative_id"), col(embCol).as("nv"),
      col(labelCol).as("nlbl"), element_at(ranked, 1).getField("cid").as("centroid_id"))
    val hits = anchors.join(corpus, Seq("centroid_id"))
      .where(col("albl") =!= col("nlbl"))
      .select(col("anchor_id"), col("negative_id"),
        VectorExprs.cosine(col("av"), col("nv")).as("cosine"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("negative_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("anchor_id", "rank", "negative_id", "cosine")
  }

  /**
   * Deterministic Lloyd's k-means over the embedding column, so IVF/near-dup
   * bucketing is self-contained (no externally supplied centroids).
   *
   *  - init: deterministic k-means++-style farthest-point selection over a
   *    bounded pseudo-random sample — the `max(4k, 256)` vectors with the
   *    smallest md5(vec_id) (a seedless, order-independent draw) are pulled
   *    to the driver, the first centroid is the smallest-hash vector, and
   *    each next centroid is the sample point maximizing its min cosine
   *    distance to those already chosen (ties → earlier hash order; selection
   *    stops early when every unchosen point is directionally identical to a
   *    chosen one — k caps at the sample's distinct directions). The
   *    driver collect is BOUNDED by the sample size, never by the corpus —
   *    the k-means|| oversample-then-refine shape, and it fixes the
   *    round-2 defect where arbitrary-draw init clustered the seeds and
   *    trained recall fell below the naive modulo bucketing;
   *  - iterate: assign to nearest centroid (cosine), recompute each centroid
   *    as the member mean. Means go through DECIMAL sums
   *    (order-independent), so the result is bit-identical under any
   *    partitioning — the property every downstream oracle check needs;
   *  - each round is one broadcast-assign + one aggregation; labels never
   *    shuffle the corpus twice. localCheckpoint cuts the per-round lineage.
   */
  def trainCentroids(vectors: DataFrame, k: Int, iters: Int = 5): DataFrame =
    trainCentroidsImpl(vectors, k, iters, l2 = false)

  /** [[trainCentroids]] under squared-L2 — the metric PQ codebooks need
    * (Lloyd's with mean updates is the exact minimizer for L2, and only
    * approximately sensible for cosine). Same deterministic init (distance
    * function swapped), same DECIMAL-mean updates, same stale-centroid and
    * duplicate-direction handling (for L2, "identical direction" becomes
    * "identical point": dist 0 ⇒ stop). */
  def trainCentroidsL2(vectors: DataFrame, k: Int, iters: Int = 5): DataFrame =
    trainCentroidsImpl(vectors, k, iters, l2 = true)

  /** Nearest-centroid assignment under squared L2 (min distance, ties →
    * smallest centroid id) — the training/encode twin of
    * [[assignToCentroids]]'s cosine argmax. Same single-shuffle shape. */
  private def assignToCentroidsL2(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids.select(col("vec_id").as("centroid_id"), col("embedding").as("centv")))
    vectors.select(col("vec_id"), col("embedding"))
      .join(c)
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        VectorExprs.l2sq(col("embedding"), col("centv")).as("d"))
      .groupBy("vec_id")
      .agg(min_by(col("centroid_id"), struct(col("d"), col("centroid_id"))).as("centroid_id"),
        first(col("embedding")).as("embedding"))
  }

  private def trainCentroidsImpl(vectors: DataFrame, k: Int, iters: Int, l2: Boolean): DataFrame = {
    val spark = vectors.sparkSession
    val sampleSize = math.max(4 * k, 256)
    val sample = vectors
      .select(col("vec_id"), col("embedding"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(sampleSize)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray)
    // greedy farthest-point on the driver: O(sample·k·d), sample-bounded
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
    def l2Dist(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      acc
    }
    def dist(a: Array[Float], b: Array[Float]): Double =
      if (l2) l2Dist(a, b) else cosDist(a, b)
    val kEff = math.min(k, sample.length)
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val minDist = sample.map(dist(_, sample(0)))
    var exhausted = false
    while (chosen.size < kEff && !exhausted) {
      var best = 0; var bestD = -1.0
      var i = 0
      while (i < sample.length) { if (minDist(i) > bestD) { bestD = minDist(i); best = i }; i += 1 }
      // bestD == 0 ⇒ every unchosen sample point is directionally identical
      // to a chosen centroid: stop rather than emit duplicates (which would
      // silently shrink effective k while keeping k distinct vec_ids)
      if (bestD <= 0.0) exhausted = true
      else {
        chosen += best
        i = 0
        while (i < sample.length) { val d = dist(sample(i), sample(best)); if (d < minDist(i)) minDist(i) = d; i += 1 }
      }
    }
    val initRows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    chosen.zipWithIndex.foreach { case (idx, i) =>
      initRows.add(org.apache.spark.sql.Row((i + 1).toLong, sample(idx).toSeq))
    }
    val initSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding", vectors.schema("embedding").dataType)))
    var centroids = spark.createDataFrame(initRows, initSchema).localCheckpoint()
    for (_ <- 1 to iters) {
      val members =
        if (l2) assignToCentroidsL2(vectors, centroids)
        else assignToCentroids(vectors, centroids)
      // per-dimension decimal-exact mean; collect_list(struct(dim, m)) is
      // re-sorted so the rebuilt array is position-stable
      val next = members
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("centroid_id", "i")
        .agg((sum(col("x").cast("decimal(28,8)")) / count(col("x"))).cast("float").as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("embedding"))
        .select(col("centroid_id").as("vec_id"), col("embedding").as("new_emb"))
      // a centroid that attracted no members keeps its previous position
      // (deterministic "stale centroid" strategy) — dropping it would
      // silently shrink k across iterations
      val kept = centroids.select(col("vec_id"), col("embedding").as("old_emb"))
        .join(next, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("new_emb"), col("old_emb")).as("embedding"))
      centroids = kept.localCheckpoint()
    }
    centroids
  }
}

package graft.gates

import graft.SparkEntry.{PqM, duckHash, embNearDupShared, ivfPqIndexShared, pqCodesShared,
  t}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity gates: brute-force and IVF kNN, near-dup pairs
  * and semantic groups, random-hyperplane LSH, product quantization
  * (codes, ADC and IVF-PQ search, exact re-rank), hard and random
  * negatives, int8 quantization, mean pooling, label margins and the
  * semantic contamination screen. */
object SimilarityGates {

  // A named val: Bench's recall row reads this gate directly.
  // Brute-force exact top-5 cosine neighbors for queries vec_id<10.
  val knnBruteforce: Gate = Gate("q22_knn_bruteforce")((s, dir) => {
    val em = t(s, dir, "embeddings")
    Similarity.bruteForceKnn(em, em.where(col("vec_id") < 10), k = 5)
  }) {
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e,
      |       sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm FROM v),
      |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |       list_reduce(list_transform(list_zip(q.e, c.e), z -> z[1]*z[2]), (a,b) -> a+b)
      |         / (q.nrm * c.nrm) AS cosine
      |      FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
      | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      | FROM s) WHERE rank <= 5""".stripMargin
  }

  // A named val: Bench's recall row reads this gate directly.
  // IVF ANN (10 deterministic centroids, nprobe=1).
  val knnIvf: Gate = Gate("q24_knn_ivf")((s, dir) => {
    val em = t(s, dir, "embeddings")
    Similarity.ivfKnn(em, em.where(col("vec_id") < 10),
      em.where(col("vec_id") % 50 === 0), k = 5)
  }) {
    // IVF (nprobe=1): both queries (vec_id<10) and corpus assigned to their
    // nearest %50 centroid; search within the shared bucket only.
    s"""WITH $vecNormCte,
       |$centroidAssignCte,
       |a1 AS (SELECT * FROM assign WHERE rn = 1),
       |s AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
       |       ${duckCosine("q", "t")} AS cosine
       |      FROM a1 q JOIN a1 t
       |        ON q.centroid_id = t.centroid_id AND q.vec_id <> t.vec_id
       |      WHERE q.vec_id < 10)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
       | FROM s) WHERE rank <= 5""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    knnBruteforce,

    // Bucketed-approximate near-dup pairs (the 100 TB plan): cosine ≥ 0.4
    // among vectors sharing one of their 2 nearest centroids. The oracle
    // expresses the same bucketed contract (see Similarity scaladoc — on
    // this corpus the 0.4-cosine pairs are isotropic-noise coincidences no
    // sub-quadratic method can enumerate; exactNearDupPairs stays the
    // spec-level exhaustive baseline).
    Gate("q23_embedding_neardup_pairs")((s, dir) => embNearDupShared(s, dir)) {
      // Bucketed contract: cosine ≥ 0.4 among pairs sharing ≥1 of their top-2
      // nearest centroids (same assignment tie-break as the Spark side).
      embNearDupPairsSql
    },

    knnIvf,

    // Random-hyperplane LSH signatures over embeddings (deterministic
    // planes, externally verifiable).
    Gate("q34_rp_lsh_signatures")((s, dir) =>
      Similarity.rpLshSignatures(t(s, dir, "embeddings"), RpPlanes)) {
      // same literal plane coefficients, same left-to-right association
      val sig = RpPlanes.zipWithIndex.map { case (h, j) =>
        val dot = h.zipWithIndex
          .map { case (c, i) => s"CAST(embedding[${i + 1}] AS DOUBLE)*($c)" }
          .mkString("+")
        s"CASE WHEN $dot > 0.0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END"
      }.mkString("+")
      s"SELECT vec_id, $sig AS rp_sig FROM embeddings"
    },

    // Embedding int8 quantization: per-vector symmetric scale; gate
    // reduces the quantized array to scalar stats (position-weighted
    // checksum pins every element and position).
    Gate("q58_embedding_quantize")((s, dir) => {
      val q = Similarity.quantizeInt8(t(s, dir, "embeddings"))
      q.select(col("vec_id"), col("scale"),
        size(col("qvec")).cast("long").as("n_dims"),
        aggregate(transform(col("qvec"), (x, i) => x * (i.cast("long") + 1L)),
          lit(0L), (acc, v) => acc + v).as("checksum"),
        array_min(col("qvec")).as("q_min"),
        array_max(col("qvec")).as("q_max"))
    }) {
      // Quantization: scale = max|x|/127 with the same association order;
      // round-half-up as explicit floor(x/scale + 0.5) on both engines
      // (round() builtins disagree half-even vs half-away). Spark's
      // transform index is 0-based (+1); generate_subscripts is 1-based.
      s"""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |  generate_subscripts(embedding, 1) AS i FROM embeddings),
         |s AS (SELECT vec_id, max(abs(x)) / 127.0 AS scale FROM e GROUP BY vec_id),
         |q AS (SELECT e.vec_id, scale, i,
         |  CASE WHEN scale = 0 THEN 0
         |       ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END AS qv
         | FROM e JOIN s USING (vec_id))
         |SELECT vec_id, scale, CAST(count(*) AS BIGINT) AS n_dims,
         | CAST(sum(qv * i) AS BIGINT) AS checksum,
         | CAST(min(qv) AS BIGINT) AS q_min, CAST(max(qv) AS BIGINT) AS q_max
         |FROM q GROUP BY vec_id, scale""".stripMargin
    },

    // Label-noise screen: per-vector margin between the own-class centroid
    // and the nearest other class (negative = probable mislabel).
    Gate("q60_label_margins")((s, dir) =>
      Similarity.labelMargins(t(s, dir, "embeddings"))) {
      // Label margins: centroid means follow the exactAvg shape
      // (decimal-sum → double → /count → float round); cosine is the q22
      // left-fold list_reduce twin of the codegen expression.
      s"""WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |m AS (SELECT label, i,
         |  CAST(CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE)/count(x) AS FLOAT) AS m
         | FROM x GROUP BY label, i),
         |c AS (SELECT label AS c_label,
         |  list(CAST(m AS DOUBLE) ORDER BY i) AS centroid FROM m GROUP BY label),
         |v AS (SELECT vec_id, label,
         |  list_transform(embedding, e -> CAST(e AS DOUBLE)) AS e FROM embeddings),
         |s AS (SELECT vec_id, v.label, c_label,
         |  list_reduce(list_transform(list_zip(e, centroid), z -> z[1]*z[2]), (a,b) -> a+b)
         |  / (sqrt(list_reduce(list_transform(e, q -> q*q), (a,b) -> a+b))
         |     * sqrt(list_reduce(list_transform(centroid, q -> q*q), (a,b) -> a+b))) AS cos
         | FROM v, c),
         |o AS (SELECT vec_id, label, c_label, cos,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rn
         | FROM s WHERE c_label <> label)
         |SELECT own.vec_id, own.label, own.cos AS own_cos,
         | o.c_label AS nearest_other_label, o.cos AS other_cos,
         | own.cos - o.cos AS margin
         |FROM (SELECT vec_id, label, cos FROM s WHERE c_label = label) own
         |JOIN o ON own.vec_id = o.vec_id AND o.rn = 1""".stripMargin
    },

    // Contrastive-training negatives: 3 deterministic pseudo-random
    // non-self negatives per document (dense hash-ordered index + hash
    // draws, reproducible on any partitioning).
    Gate("q64_negative_samples")((s, dir) =>
      graft.operators.Sampling.negativeSamples(t(s, dir, "documents"),
          "doc_id", k = 3, seed = 7L)
        .select(col("anchor"), col("neg_rank").cast("long").as("neg_rank"),
          col("negative"))) {
      // Negative sampling: dense hash-ordered index, per-anchor hash draws
      // with the self-draw stepped to the next index — concat format and
      // tie-breaks mirror the Scala exactly.
      s"""WITH ids AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id IS NOT NULL),
         |ord AS (SELECT id,
         |  row_number() OVER (ORDER BY ${duckHash("CAST(id AS VARCHAR)")} ASC, id ASC) - 1 AS idx
         | FROM ids),
         |c AS (SELECT count(*) AS n FROM ord),
         |dr AS (SELECT id AS anchor, idx AS aidx,
         |        unnest(generate_series(0, 2)) AS neg_rank FROM ord),
         |d2 AS (SELECT anchor, neg_rank, aidx, n,
         |  ${duckHash("'7:' || CAST(anchor AS VARCHAR) || ':' || CAST(neg_rank AS VARCHAR)")} % n AS draw
         | FROM dr, c),
         |d3 AS (SELECT anchor, neg_rank,
         |  CASE WHEN draw = aidx THEN (draw + 1) % n ELSE draw END AS nidx FROM d2)
         |SELECT d3.anchor, CAST(d3.neg_rank AS BIGINT) AS neg_rank, o.id AS negative
         |FROM d3 JOIN ord o ON o.idx = d3.nidx""".stripMargin
    },

    // Chunk→doc mean pooling, gated per element: label plays the doc key
    // on the embeddings table; order-independent DECIMAL means → float,
    // exploded to scalar rows so every element and position is pinned.
    Gate("q66_mean_pool")((s, dir) =>
      Similarity.meanPool(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "m")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("m"))) {
      // Mean pooling: per-(label, position) DECIMAL(28,6) sums → double ÷
      // count → float, the exactAvg construction element-wise.
      s"""WITH x AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
         |SELECT label, CAST(pos AS BIGINT) AS pos,
         | CAST(CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)/count(x) AS FLOAT) AS m
         |FROM x GROUP BY label, pos""".stripMargin
    },

    // Semantic dedup groups: q23's bucketed pair contract → connected
    // components → smallest-id keeper (the q36 machinery in embedding
    // space; the API form is Similarity.semanticDedupGroups — the gate
    // composes the staged pair frame so q23/q67 share one computation,
    // exactly as q18/q36 share the jaccard pairs).
    Gate("q67_semantic_groups")((s, dir) =>
      graft.operators.Components.dedupGroups(embNearDupShared(s, dir))) {
      // Semantic dedup groups: q23's pair contract closed into connected
      // components (the q36 recursive-reachability oracle in embedding space).
      s"""WITH RECURSIVE
         |p AS (SELECT id_a, id_b FROM ($embNearDupPairsSql)),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |reach(id, r) AS (
         | SELECT id, id FROM nodes
         | UNION
         | SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         |SELECT id, CAST(min(r) AS BIGINT) AS keep_id, (id = min(r)) AS is_keeper
         |FROM reach GROUP BY id""".stripMargin
    },

    // Semantic (embedding-space) contamination screen: nearest EVAL vector
    // per train vector, one-row broadcast eval array — zero train-side
    // shuffles. The decontamination modality q52 (shingles) and q75/q76
    // (verbatim spans) cannot see: paraphrased benchmark items.
    Gate("q84_semantic_screen")((s, dir) => {
      val em = t(s, dir, "embeddings")
      Similarity.semanticContamination(
        em.where(col("vec_id") % 20 =!= 0), em.where(col("vec_id") % 20 === 0),
        threshold = 0.45)
    }) {
      // Semantic screen: plain cross-join argmax over the normalized-vector
      // CTE; row_number (cosine DESC, eval_id ASC) ≡ the Spark side's
      // argmax-set min-id tie-break given bit-identical cosines.
      s"""WITH $vecNormCte,
         |tr AS (SELECT * FROM n WHERE vec_id % 20 <> 0),
         |ev AS (SELECT * FROM n WHERE vec_id % 20 = 0),
         |s AS (SELECT t.vec_id AS train_id, x.vec_id AS eval_id,
         |       ${duckCosine("t", "x")} AS c,
         |       row_number() OVER (PARTITION BY t.vec_id
         |                          ORDER BY ${duckCosine("t", "x")} DESC,
         |                                   x.vec_id ASC) AS rn
         |      FROM tr t CROSS JOIN ev x)
         |SELECT train_id, eval_id AS nearest_eval_id, c AS eval_cos,
         |       (c >= 0.45) AS flagged
         |FROM s WHERE rn = 1""".stripMargin
    },

    // Product-quantization codes (m=4 subspaces of dim/4; codebooks from
    // the q24 naive-centroid convention vec_id % 50 = 0, so the oracle can
    // re-derive them — trained per-subspace k-means codebooks are the
    // production path, spec-gated + fixture-benched like trainCentroids).
    // Exploded to scalar rows for the gate.
    Gate("q85_pq_codes")((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(em.where(col("vec_id") % 50 === 0), m = PqM)
      Similarity.pqEncode(em, cb, m = PqM)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("subspace", "cw_id")))
    }) {
      // PQ codes: per-(vector, subspace) nearest codeword in squared L2.
      s"""WITH $vecNormCte,
         |$pqCodeCte
         |SELECT vec_id, CAST(s AS INTEGER) AS subspace, cw_id FROM code""".stripMargin
    },

    // Asymmetric-distance PQ top-k: TRUE query vectors (vec_id<10, the q22
    // convention) against the PQ-compressed corpus, reconstructed on the
    // fly from the broadcast codebook.
    Gate("q86_pq_adc_topk")((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(em.where(col("vec_id") % 50 === 0), m = PqM)
      // probes the STAGED code table (the ingest-time index build, like
      // q129's fingerprint store); q85 keeps the from-scratch build cost
      Similarity.pqAdcKnn(pqCodesShared(s, dir), cb,
        em.where(col("vec_id") < 10), m = PqM, k = 5)
    }) {
      // Asymmetric PQ top-k: true queries vs codeword reconstructions
      // (flatten of the code's subvectors in subspace order).
      s"""WITH $vecNormCte,
         |$pqCodeCte,
         |$pqReconCte,
         |s2 AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        ${duckCosine("q", "r")} AS cosine
         |       FROM (SELECT * FROM n WHERE vec_id < 10) q
         |       JOIN rq r ON q.vec_id <> r.vec_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
         | FROM s2) WHERE rank <= 5""".stripMargin
    },

    // IVF-PQ composed search: the coarse inverted file (q24's %50 centroid
    // convention) prunes to the query's bucket, PQ codes (q85's codebook
    // convention) stand in for the floats — both layers externally
    // re-derivable, so the COMPOSED index is oracle-checkable end to end.
    Gate("q87_ivfpq_topk")((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cents = em.where(col("vec_id") % 50 === 0)
      val cb = Similarity.pqCodebooks(cents, m = PqM)
      // probes the STAGED composed index (ingest-time build)
      Similarity.ivfPqKnn(ivfPqIndexShared(s, dir),
        cents, cb, em.where(col("vec_id") < 10), m = PqM, k = 5)
    }) {
      // IVF-PQ: queries and corpus coarse-assigned to their nearest %50
      // centroid (assign CTE); candidates = the query's bucket; scores = true
      // query vs PQ reconstruction (asymmetric).
      s"""WITH $vecNormCte,
         |$centroidAssignCte,
         |$pqCodeCte,
         |$pqReconCte,
         |a1 AS (SELECT vec_id, centroid_id FROM assign WHERE rn = 1),
         |s2 AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        ${duckCosine("q", "r")} AS cosine
         |       FROM (SELECT * FROM n WHERE vec_id < 10) q
         |       JOIN a1 qa ON qa.vec_id = q.vec_id
         |       JOIN a1 ca ON ca.centroid_id = qa.centroid_id
         |       JOIN rq r ON r.vec_id = ca.vec_id AND r.vec_id <> q.vec_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
         | FROM s2) WHERE rank <= 5""".stripMargin
    },

    // Bucketed hard-negative mining: per anchor, top-3 most-similar
    // DIFFERENT-label vectors among its 2 probed centroid buckets (labels
    // ride the zero-shuffle assignment — never a corpus re-join).
    Gate("q88_hard_negatives")((s, dir) => {
      val em = t(s, dir, "embeddings")
      Similarity.hardNegatives(em, em.where(col("vec_id") % 50 === 0),
        k = 3, nprobe = 2)
    }) {
      // Hard negatives: anchors probe their top-2 centroid buckets (rn<=2),
      // corpus single-assigned (rn=1); candidates must carry a DIFFERENT
      // non-null label; top-3 per anchor by cosine (ties → smallest id).
      // Assignment is per-row (broadcast centroids), so label-filtering
      // after assignment ≡ the Spark side's filter-then-assign.
      s"""WITH $vecNormCte,
         |$centroidAssignCte,
         |lbl AS (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL),
         |ap AS (SELECT a.* FROM assign a JOIN lbl USING (vec_id) WHERE rn <= 2),
         |c1 AS (SELECT a.* FROM assign a JOIN lbl USING (vec_id) WHERE rn = 1),
         |s2 AS (SELECT x.vec_id AS anchor_id, y.vec_id AS negative_id,
         |        ${duckCosine("x", "y")} AS cosine
         |       FROM ap x JOIN c1 y
         |         ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id
         |       JOIN lbl la ON la.vec_id = x.vec_id
         |       JOIN lbl lb ON lb.vec_id = y.vec_id
         |       WHERE la.label <> lb.label)
         |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, negative_id, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY anchor_id
         |                              ORDER BY cosine DESC, negative_id ASC) AS rank
         | FROM s2) WHERE rank <= 3""".stripMargin
    },

    // Exact re-rank over ADC proposals (the standard two-stage quantized
    // search): top-RerankC asymmetric-distance candidates re-scored with
    // the TRUE float vectors, final top-5 in exact cosine order — recovers
    // exact-tier recall at ~C/n of brute-force cost while the corpus-side
    // floats are touched only for candidate rows.
    Gate("q122_adc_rerank")((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(em.where(col("vec_id") % 50 === 0), m = PqM)
      // staged code table (q86's rationale); re-rank floats read fresh
      Similarity.pqAdcKnnReranked(pqCodesShared(s, dir), cb,
        em, em.where(col("vec_id") < 10), m = PqM, k = 5, candC = RerankC)
    }) {
      // Two-stage re-rank: q86's ADC scoring proposes top-RerankC, the TRUE
      // vectors (CTE n) re-score exactly, final top-5 by exact cosine.
      s"""WITH $vecNormCte,
         |$pqCodeCte,
         |$pqReconCte,
         |s2 AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        ${duckCosine("q", "r")} AS cosine
         |       FROM (SELECT * FROM n WHERE vec_id < 10) q
         |       JOIN rq r ON q.vec_id <> r.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM s2) WHERE rank <= $RerankC),
         |ex AS (SELECT c.query_id, c.neighbor_id, ${duckCosine("q", "v")} AS cosine
         |       FROM cand c JOIN n q ON q.vec_id = c.query_id
         |       JOIN n v ON v.vec_id = c.neighbor_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
         | FROM ex) WHERE rank <= 5""".stripMargin
    },

    // IVF-PQ with the exact re-rank stage — the shippable composed index
    // (q87's coarse pruning + q85's codes + q122's re-scoring) in one gate.
    Gate("q123_ivfpq_rerank")((s, dir) => {
      val em = t(s, dir, "embeddings")
      val cents = em.where(col("vec_id") % 50 === 0)
      val cb = Similarity.pqCodebooks(cents, m = PqM)
      // nprobe = 1 / C = 50 is the GATE regime (the oracle's rn = 1
      // assignment), not the shipped default — ivfPqKnnReranked defaults
      // to the measured np8 × C200 knee (Similarity scaladoc)
      Similarity.ivfPqKnnReranked(ivfPqIndexShared(s, dir),
        cents, cb, em, em.where(col("vec_id") < 10), m = PqM, k = 5,
        nprobe = 1, candC = RerankC)
    }) {
      // IVF-PQ + re-rank: q87's bucket-pruned ADC proposals, exact re-score.
      s"""WITH $vecNormCte,
         |$centroidAssignCte,
         |$pqCodeCte,
         |$pqReconCte,
         |a1 AS (SELECT vec_id, centroid_id FROM assign WHERE rn = 1),
         |s2 AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        ${duckCosine("q", "r")} AS cosine
         |       FROM (SELECT * FROM n WHERE vec_id < 10) q
         |       JOIN a1 qa ON qa.vec_id = q.vec_id
         |       JOIN a1 ca ON ca.centroid_id = qa.centroid_id
         |       JOIN rq r ON r.vec_id = ca.vec_id AND r.vec_id <> q.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM s2) WHERE rank <= $RerankC),
         |ex AS (SELECT c.query_id, c.neighbor_id, ${duckCosine("q", "v")} AS cosine
         |       FROM cand c JOIN n q ON q.vec_id = c.query_id
         |       JOIN n v ON v.vec_id = c.neighbor_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
         | FROM ex) WHERE rank <= 5""".stripMargin
    }
  )

  /** ADC candidate count for the re-rank gates (q122/q123 and oracles). */
  private val RerankC = 50

  /** Fixed hyperplanes for q34 (dim 64 embeddings, 16 bits, seed 42). */
  private lazy val RpPlanes: Array[Array[Double]] =
    graft.operators.Similarity.hyperplanes(dim = 64, bits = 16)

  /** DuckDB normalized-vector CTE prefix shared by the embedding oracles:
    * views n (vectors with norms) over `embeddings`. */
  private lazy val vecNormCte =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e,
      |       sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm FROM v)""".stripMargin

  /** Dot/cosine between two normalized-CTE rows (same association order as
    * VectorExprs.cosine: left-to-right pairwise product fold, then ÷ norms). */
  private def duckCosine(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a.e, $b.e), z -> z[1]*z[2]), (x,y) -> x+y) / ($a.nrm * $b.nrm)"

  /**
   * DuckDB twin of assignToCentroids over `embeddings` with centroids
   * vec_id % 50 = 0: row_number over (cosine DESC, centroid_id ASC) ≡ the
   * Spark side's max_by(centroid_id, struct(ccos, −centroid_id)) /
   * sorted-slice. Keeps rn so callers select rn=1 (nprobe 1) or rn<=2.
   */
  private lazy val centroidAssignCte =
    s"""cents AS (SELECT vec_id AS centroid_id, e, nrm FROM n WHERE vec_id % 50 = 0),
       |assign AS (
       | SELECT vec_id, e, nrm, centroid_id, rn FROM (
       |  SELECT n.vec_id, n.e, n.nrm, c.centroid_id,
       |   row_number() OVER (PARTITION BY n.vec_id
       |                      ORDER BY ${duckCosine("n", "c")} DESC, c.centroid_id ASC) AS rn
       |  FROM n CROSS JOIN cents c))""".stripMargin

  /** DuckDB twin of embeddingNearDupPairs(centroids = vec_id%50=0,
    * threshold 0.4, nprobe 2) — shared by q23 and q67's component oracle. */
  private lazy val embNearDupPairsSql: String =
    s"""WITH $vecNormCte,
       |$centroidAssignCte
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       | ${duckCosine("a", "b")} AS cosine
       |FROM (SELECT * FROM assign WHERE rn <= 2) a
       |JOIN (SELECT * FROM assign WHERE rn <= 2) b
       |  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |WHERE ${duckCosine("a", "b")} >= 0.4""".stripMargin

  /** DuckDB twin of pqCodebooks+pqEncode over `embeddings` (m=PqM 16-dim
    * subspaces, codewords = vec_id%50=0 rows, squared-L2 assignment with
    * ties → smallest codeword id). Needs `v` from [[vecNormCte]]. Shared
    * by q85 and q86. */
  private lazy val pqCodeCte: String = {
    val sub = 64 / PqM
    s"""sub AS (SELECT vec_id, s, list_slice(e, s*$sub+1, s*$sub+$sub) AS sv
       |       FROM v, (SELECT unnest(range($PqM)) AS s)),
       |cw AS (SELECT vec_id AS cw_id, s, sv FROM sub WHERE vec_id % 50 = 0),
       |code AS (SELECT vec_id, s, cw_id FROM (
       | SELECT t.vec_id, t.s, c.cw_id,
       |  row_number() OVER (PARTITION BY t.vec_id, t.s ORDER BY
       |   list_reduce(list_transform(list_zip(t.sv, c.sv), z -> (z[1]-z[2])*(z[1]-z[2])), (x,y) -> x+y) ASC,
       |   c.cw_id ASC) AS rn
       | FROM sub t JOIN cw c USING (s)) WHERE rn = 1)""".stripMargin
  }

  /** PQ reconstructions with norms (views recon, rq) over [[pqCodeCte]]'s
    * `code`/`cw` — the corpus side every asymmetric-distance oracle scores
    * against. Shared by q86 and q87. */
  private lazy val pqReconCte: String =
    """recon AS (SELECT co.vec_id, flatten(list(c.sv ORDER BY co.s)) AS e
      |          FROM code co JOIN cw c ON co.s = c.s AND co.cw_id = c.cw_id
      |          GROUP BY co.vec_id),
      |rq AS (SELECT vec_id, e,
      |        sqrt(list_reduce(list_transform(e, x -> x*x), (a,b) -> a+b)) AS nrm FROM recon)""".stripMargin
}

package graft.gates

import graft.SparkEntry.{BandRates, CapFluencyDen, CapFluencyNum, CapMinTokens,
  GopherCondList, GopherKeptCond, LmMinCount, RepetitionCondList, RepetitionKeptCond,
  bandRateCaseSql, capstoneFunnelStages, capstoneShared, duckHash, duckShingleSet,
  gopherCtes, lmCteN, materializeCtes, repetitionCtes, t, tercileBandSql}
import graft.functions.Hashing
import org.apache.spark.sql.functions._

/** Capstone gates over the composed CorpusPipeline run: its stage
  * census and corpus membership, the funnel attribution over its screen
  * battery, and the banded admission over its corpus. */
object CapstoneGates {

  val gates: Seq[Gate] = Seq(
    // CorpusPipeline capstone, stage census: the COMPOSED end-to-end
    // pipeline (clean → normalized exact dedup → minhash near-dedup →
    // decontamination → split → pack) run once per (session, sf-dir);
    // every per-stage attributable count + the split census + the packed
    // train-sequence count as one (stage, n) frame, vs a DuckDB oracle
    // that recomposes the already-gated stage SQL end to end. Each stage
    // is hash/integer-deterministic, so the composition is too.
    Gate("q127_pipeline_capstone")((s, dir) => {
      import s.implicits._
      val r = capstoneShared(s, dir)._2
      Seq(
        "input" -> r.input,
        "cleaned" -> r.cleaned,
        "after_exact_dedup" -> r.afterExactDedup,
        "after_near_dedup" -> r.afterNearDedup,
        "contaminated" -> r.contaminated,
        "fluency_filtered" -> r.fluencyFiltered,
        "after_fluency" -> r.afterFluency,
        "corpus" -> r.corpus,
        "split_train" -> r.splitCounts.getOrElse("train", 0L),
        "split_val" -> r.splitCounts.getOrElse("val", 0L),
        "split_test" -> r.splitCounts.getOrElse("test", 0L),
        "train_sequences" -> r.trainSequences,
      ).toDF("stage", "n")
    }) {
      // Capstone census: every count the Spark Report carries, recomputed
      // by the composed stage chain. The inner union is BIGINT except the
      // packed-sequence sum (HUGEINT) — the outer CAST normalizes.
      s"""WITH RECURSIVE
         |$capstoneCtes
         |SELECT stage, CAST(n AS BIGINT) AS n FROM (
         | SELECT 'input' AS stage, count(*) AS n FROM pool
         | UNION ALL SELECT 'cleaned', count(*) FROM cln
         | UNION ALL SELECT 'after_exact_dedup', count(*) FROM ex
         | UNION ALL SELECT 'after_near_dedup', count(*) FROM nd
         | UNION ALL SELECT 'contaminated',
         |   (SELECT count(*) FROM nd) - (SELECT count(*) FROM scr)
         | UNION ALL SELECT 'fluency_filtered',
         |   (SELECT count(*) FROM scr) - (SELECT count(*) FROM flu)
         | UNION ALL SELECT 'after_fluency', count(*) FROM flu
         | UNION ALL SELECT 'corpus', count(*) FROM flu
         | UNION ALL SELECT 'split_train', count(*) FROM corp WHERE split = 'train'
         | UNION ALL SELECT 'split_val', count(*) FROM corp WHERE split = 'val'
         | UNION ALL SELECT 'split_test', count(*) FROM corp WHERE split = 'test'
         | UNION ALL SELECT 'train_sequences',
         |   COALESCE((SELECT sum(s) FROM seqs), 0))""".stripMargin
    },

    // Capstone membership: the final corpus's (doc_id, split) assignment —
    // counts alone could match with the WRONG documents surviving; this
    // row pins exactly WHICH documents ship and where they land.
    Gate("q128_pipeline_membership")((s, dir) =>
      capstoneShared(s, dir)._1.select(col("doc_id"), col("split"))) {
      // Capstone membership: which documents survive the whole composed
      // pipeline and which split each lands in.
      s"""WITH RECURSIVE
         |$capstoneCtes
         |SELECT doc_id, split FROM corp""".stripMargin
    },

    // Funnel attribution over the capstone's own 21-stage screen battery
    // (token bar → 7 Gopher rules → 13 repetition screens): per-rule
    // FIRST-FAILURE drop census over the train pool — the report a
    // corpus run ships ("12% too short, 8% low-stopword, …"). The whole
    // cascade is one when-chain in a narrow projection plus a single
    // stage-cardinality aggregation: cleaning 100 TB costs one scan.
    Gate("q136_funnel_attribution")((s, dir) =>
      graft.operators.Cleaning.funnelReport(
        t(s, dir, "documents").where(col("doc_id") % 10 =!= 0),
        capstoneFunnelStages)) {
      // Funnel attribution: the same ordered condition lists the q133/q134
      // kept-columns read, re-assembled as a FIRST-failure CASE chain over
      // the train pool — every document charged to the first stage that
      // rejects it (or 'pass'), counts summing to the pool size. CTE heads
      // materialized (fan-out via the flag/metric joins).
      {
      // flag/metric columns resolve unqualified through the USING joins
      val stages: Seq[(String, String)] =
        Seq("min_tokens" -> s"wc >= $CapMinTokens") ++
          GopherCondList ++ RepetitionCondList
      val idxArms = stages.zipWithIndex.map { case ((_, cond), i) =>
        s"WHEN NOT ($cond) THEN $i" }.mkString("\n  ")
      val nameArms = stages.map { case (n, cond) =>
        s"WHEN NOT ($cond) THEN '$n'" }.mkString("\n  ")
      val ctes = materializeCtes(
        s"""pool AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
           |${gopherCtes("pool", "fq")},
           |${repetitionCtes("pool", "fq")}""".stripMargin)
      s"""WITH $ctes,
         |st AS (SELECT g.doc_id,
         |  CASE $idxArms ELSE ${stages.size} END AS drop_stage_idx,
         |  CASE $nameArms ELSE 'pass' END AS drop_stage
         | FROM fqgq g JOIN fqgf USING (doc_id) JOIN fqwide USING (doc_id))
         |SELECT CAST(drop_stage_idx AS BIGINT) AS drop_stage_idx, drop_stage,
         |       count(*) AS n_docs
         |FROM st GROUP BY 1, 2""".stripMargin
    }
    },

    // Banded admission over the CAPSTONE corpus — the release-tier form
    // of CCNet §4.3 (band the shipped corpus by its own self-trained
    // model's fluency permille, admit head-preferentially; FineWeb-style
    // quality-tier releases are this shape). The decision rule is
    // NgramLm.bandRateAdmission — the SAME single implementation the
    // CorpusPipeline stage 4a'' calls (PipelineSpec pins stage ≡
    // composition-over-run-without), so the capstone's banded stage is
    // thereby oracle-gated through this composition without running a
    // second capstone. One global band set (single-language corpus);
    // the oracle extends the composed capstone chain with a second
    // census over the fluent pool.
    Gate("q149_capstone_banded")((s, dir) => {
      val flu = capstoneShared(s, dir)._1.select(col("doc_id"), col("text"))
      graft.operators.NgramLm.bandRateAdmission(flu,
        graft.operators.NgramLm.lmCounts(flu, "text", n = 3,
          minCount = LmMinCount),
        graft.operators.NgramLm.lmTotals(flu, "text"),
        "doc_id", "text", BandRates)
    }) {
      // Banded capstone admission: the composed capstone chain (ending in
      // the fluent pool `flu`), a SECOND census over flu under flu's own
      // self-trained model ("fb"-prefixed lmCteN — the capstone's "fl"
      // chain censuses scr under scr's model, a different artifact), the
      // global row-grain tercile edges, and the q148 hash-threshold draw.
      {
      val h = duckHash("'0 ' || CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE
         |$capstoneCtes,
         |${lmCteN(3, "flu", "fb")},
         |${materializeCtes(
          s"""bcen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sn,
             |  CAST(sum(CASE WHEN matched_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hi
             | FROM fbsc GROUP BY doc_id),
             |bpm AS (SELECT doc_id, (hi * 1000) // sn AS fluency_pm FROM bcen),
             |${tercileBandSql("b", "bpm", None)}""".stripMargin)}
         |SELECT doc_id, fluency_pm, band FROM bbd
         |WHERE CAST($h AS HUGEINT) % ${bandRateCaseSql(_._2, 1)}
         |    < ${bandRateCaseSql(_._1, 0)}""".stripMargin
    }
    },

    // The multilingual production shape of q149 (VERDICT r8 gap 3): the
    // CCNet recipe bands PER LANGUAGE — each source's fluency
    // distribution gets its own tercile edges, so a verbose source
    // can't push a terse source's docs into the tail. Same composed
    // capstone pool, same self-trained model, same rates and seed; the
    // ONLY change from q149 is `groupCol = source`, so the q149/q150
    // pair is a direct global-vs-grouped A/B of one argument. Scale
    // shape unchanged: the edges frame grows to |sources|×2 values,
    // still broadcast; the corpus still never sorts or shuffles.
    Gate("q150_capstone_banded_by_source")((s, dir) => {
      val flu = capstoneShared(s, dir)._1.select(col("doc_id"), col("text"))
      // re-attach source to the memoized pool: both sides doc-cardinality,
      // so hash the narrow (doc_id, source) side instead of sorting both
      val docs = flu.join(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .hint("shuffle_hash"),
        Seq("doc_id"))
      graft.operators.NgramLm.bandRateAdmission(docs,
        graft.operators.NgramLm.lmCounts(flu, "text", n = 3,
          minCount = LmMinCount),
        graft.operators.NgramLm.lmTotals(flu, "text"),
        "doc_id", "text", BandRates, groupCol = Some("source"))
    }) {
      // Per-source banded capstone admission: q149's chain with the
      // second census joined back to each doc's source and the tercile
      // edges computed PER SOURCE (the tercileBandSql grouped form q144
      // uses on the raw corpus) — the multilingual CCNet shape over the
      // composed capstone pool. Same '0 '-seeded draw domain as q148/q149.
      {
      val h = duckHash("'0 ' || CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE
         |$capstoneCtes,
         |${lmCteN(3, "flu", "fb")},
         |${materializeCtes(
          s"""bcen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sn,
             |  CAST(sum(CASE WHEN matched_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hi
             | FROM fbsc GROUP BY doc_id),
             |bpm AS (SELECT c.doc_id, d.source, (c.hi * 1000) // c.sn AS fluency_pm
             | FROM bcen c JOIN documents d ON c.doc_id = d.doc_id),
             |${tercileBandSql("b", "bpm", Some("source"))}""".stripMargin)}
         |SELECT doc_id, source, fluency_pm, band FROM bbd
         |WHERE CAST($h AS HUGEINT) % ${bandRateCaseSql(_._2, 1)}
         |    < ${bandRateCaseSql(_._1, 0)}""".stripMargin
    }
    }
  )

  private lazy val capstoneCtes: String = {
    val p = Hashing.MersennePrime
    val mins = (0 until 16).map { i =>
      val (a, b) = Hashing.coeffs(i)
      s"CAST(min(($a*(h%$p)+$b)%$p) AS BIGINT) AS mh_$i"
    }.mkString(",\n ")
    val bandSelects = (0 until 4).map { bi =>
      val rs = (0 until 4).map(r => s"mh_${bi * 4 + r}")
      s"SELECT id, $bi AS band, ${rs.zipWithIndex.map { case (c, j) => s"$c AS r$j" }.mkString(", ")} FROM sigx"
    }.mkString("\n  UNION ALL ")
    val splitHash = duckHash("CAST(doc_id AS VARCHAR)")
    materializeCtes(s"""pool AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |${gopherCtes("pool", "fq")},
       |${repetitionCtes("pool", "fq")},
       |fqgk AS (SELECT doc_id FROM fqgf WHERE $GopherKeptCond),
       |fqrk AS (SELECT doc_id FROM fqwide WHERE $RepetitionKeptCond),
       |cln AS (SELECT p.doc_id, p.text FROM pool p
       |        JOIN fqgk USING (doc_id) JOIN fqrk USING (doc_id)
       |        WHERE len(string_split(p.text,' ')) >= $CapMinTokens),
       |nrm AS (SELECT doc_id, text,
       |  trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g')) AS n
       |  FROM cln),
       |ex AS (SELECT doc_id, text FROM (
       |   SELECT doc_id, text, row_number() OVER (PARTITION BY n ORDER BY doc_id) AS rn
       |   FROM nrm) WHERE rn = 1),
       |shx AS (SELECT doc_id AS id, unnest(${duckShingleSet("text", 3)}) AS shingle FROM ex),
       |hx AS (SELECT id, ${duckHash("shingle")} AS h FROM shx),
       |sigx AS (SELECT id, $mins FROM hx GROUP BY id),
       |bx AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bx x JOIN bx y USING (band, r0, r1, r2, r3) WHERE x.id < y.id),
       |szx AS (SELECT id, count(*) AS n FROM shx GROUP BY id),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared
       |       FROM shx a JOIN shx b USING (shingle) WHERE a.id < b.id GROUP BY a.id, b.id),
       |np AS (SELECT p.id_a, p.id_b FROM pr p JOIN cand USING (id_a, id_b)
       |       JOIN szx xa ON p.id_a = xa.id JOIN szx yb ON p.id_b = yb.id
       |       WHERE CAST(shared AS DOUBLE)/CAST(xa.n + yb.n - shared AS DOUBLE) >= 0.5),
       |edge AS (SELECT id_a AS src, id_b AS dst FROM np UNION SELECT id_b, id_a FROM np),
       |vtx AS (SELECT DISTINCT src AS id FROM edge),
       |reach(id, r) AS (
       | SELECT id, id FROM vtx
       | UNION
       | SELECT edge.src, reach.r FROM edge JOIN reach ON edge.dst = reach.id),
       |keepr AS (SELECT id, min(r) AS keep_id FROM reach GROUP BY id),
       |nd AS (SELECT e2.doc_id, e2.text FROM ex e2 LEFT JOIN keepr k ON e2.doc_id = k.id
       |       WHERE k.id IS NULL OR k.id = k.keep_id),
       |she AS (SELECT doc_id AS id, unnest(${duckShingleSet("text", 3)}) AS shingle FROM ev),
       |shd AS (SELECT doc_id AS id, unnest(${duckShingleSet("text", 3)}) AS shingle FROM nd),
       |sze AS (SELECT id, count(*) AS n FROM she GROUP BY id),
       |szd AS (SELECT id, count(*) AS n FROM shd GROUP BY id),
       |csh AS (SELECT d.id AS did, e.id AS eid, CAST(count(*) AS BIGINT) AS shared
       |        FROM shd d JOIN she e USING (shingle) GROUP BY d.id, e.id),
       |dirty AS (SELECT DISTINCT did FROM csh
       |          JOIN szd ON csh.did = szd.id JOIN sze ON csh.eid = sze.id
       |          WHERE CAST(shared AS DOUBLE)/CAST(szd.n + sze.n - shared AS DOUBLE) >= 0.5),
       |scr AS (SELECT doc_id, text FROM nd WHERE doc_id NOT IN (SELECT did FROM dirty)),
       |${lmCteN(3, "scr", "fl")},
       |flu AS (SELECT s.doc_id, s.text FROM scr s JOIN (
       |  SELECT doc_id FROM flsc GROUP BY doc_id
       |  HAVING $CapFluencyDen*sum(CASE WHEN matched_ord >= 2 THEN 1 ELSE 0 END)
       |         >= $CapFluencyNum*count(*)
       |) fk USING (doc_id)),
       |corp AS (SELECT doc_id, text,
       |         CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val' ELSE 'test' END AS split
       |         FROM (SELECT doc_id, text, $splitHash % 10 AS h FROM flu)),
       |pk AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
       |        $splitHash AS h, $splitHash % 4 AS shard
       |       FROM corp WHERE split = 'train'),
       |po AS (SELECT doc_id, shard, tokens,
       |  CAST(COALESCE(sum(tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
       |  FROM pk),
       |seqs AS (SELECT shard,
       |  CAST(ceil(CAST(max(start_offset + tokens) AS DOUBLE)/512.0) AS BIGINT) AS s
       |  FROM po GROUP BY shard)""".stripMargin)
  }
}

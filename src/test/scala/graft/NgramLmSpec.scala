package graft

import graft.gen.SynthCorpus
import graft.operators.NgramLm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit coverage for the Stupid Backoff n-gram LM (also oracle-gated at
  * the exact-integer token grain via q131/q132 — these pin the semantic
  * corners and the FLOAT tier the oracle can't: docLogProb vs a
  * plain-Scala twin, and the band filter's deterministic membership). */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  // d1 supplies repeated mass, d2 a hapax trigram, d3 a hapax unigram
  private def corpus: DataFrame = Seq(
    (1L, "a b c a b c"),
    (2L, "a b d"),
    (3L, "z")).toDF("doc_id", "text")

  private def scored(minCount: Long): DataFrame =
    NgramLm.scoreTokens(corpus,
      NgramLm.lmCounts(corpus, "text", n = 3, minCount = minCount),
      NgramLm.lmTotals(corpus, "text"), "doc_id", "text")

  private def rows(df: DataFrame, id: Long): Seq[(Long, Long, Long, Long, Long)] =
    df.where(col("id") === id).orderBy("pos")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("scoreTokens matches the hand-computed backoff chain (unpruned)") {
    val sc = scored(minCount = 1L)
    // d2 = "a b d": unigram a (c=3, N=10), bigram "a b" (c=3 / c(a)=3),
    // trigram "a b d" (c=1 / c("a b")=3) — every position matches at its
    // full available order, zero backoffs
    assert(rows(sc, 2L) == Seq(
      (0L, 1L, 0L, 3L, 10L),
      (1L, 2L, 0L, 3L, 3L),
      (2L, 3L, 0L, 1L, 3L)))
    // d3 = "z": hapax unigram still scores c(z)=1 over N
    assert(rows(sc, 3L) == Seq((0L, 1L, 0L, 1L, 10L)))
  }

  test("pruning backs the chain off and floors a fully-pruned token at 1/N") {
    val sc = scored(minCount = 2L) // keeps a,b,c / "a b","b c" / "a b c"
    // d2 pos2 "d": trigram, bigram AND unigram all pruned → matched 0,
    // backoffs = avail−1 = 2, floor 1/N
    assert(rows(sc, 2L) == Seq(
      (0L, 1L, 0L, 3L, 10L),
      (1L, 2L, 0L, 3L, 3L),
      (2L, 0L, 2L, 1L, 10L)))
    // d3 "z" pruned at avail=1 → backoffs 0 (no lower order to charge)
    assert(rows(sc, 3L) == Seq((0L, 0L, 0L, 1L, 10L)))
  }

  test("held-out document scores against the trained table") {
    val lm = NgramLm.lmCounts(corpus, "text", n = 3, minCount = 1L)
    val tot = NgramLm.lmTotals(corpus, "text")
    val held = Seq((9L, "c a b c")).toDF("doc_id", "text")
    val sc = NgramLm.scoreTokens(held, lm, tot, "doc_id", "text")
    assert(rows(sc, 9L) == Seq(
      (0L, 1L, 0L, 2L, 10L),  // c: c1=2 / N
      (1L, 2L, 0L, 1L, 2L),   // "c a"=1 / c(c)=2
      (2L, 3L, 0L, 1L, 1L),   // "c a b"=1 / c("c a")=1
      (3L, 3L, 0L, 2L, 3L)))  // "a b c"=2 / c("a b")=3
  }

  test("pruning consistency on a generated corpus: a matched gram always has its context") {
    val docs = SynthCorpus.synthDocs(spark, 300)
    val sc = NgramLm.scoreTokens(docs,
      NgramLm.lmCounts(docs, "text", n = 3, minCount = 3L),
      NgramLm.lmTotals(docs, "text"), "doc_id", "text")
    // c(context) >= c(gram) by the prefix-count argument, so the scorer
    // never sees a null or smaller denominator at matched_ord >= 2
    assert(sc.where(col("matched_ord") >= 2L &&
      (col("c_den").isNull || col("c_den") < col("c_num"))).count() == 0L)
    // unigram tier: denominator is the corpus total, numerator a count
    assert(sc.where(col("matched_ord") <= 1L && col("c_den") < col("c_num"))
      .count() == 0L)
    // every corpus token is scored exactly once
    val nTok = docs.agg(sum(size(split(col("text"), " ")))).as[Long].head()
    assert(sc.count() == nTok)
    assert(sc.groupBy("id", "pos").count().where(col("count") > 1).count() == 0L)
  }

  /** Plain-Scala Stupid Backoff twin at arbitrary order: count every
    * positional k-gram (k = 1..n) over the training corpus, prune at
    * minCount, then score each token of the held frame at the highest
    * matching order ≤ avail, with the 1/N OOV floor. */
  private def twinScore(train: Seq[(Long, String)], held: Seq[(Long, String)],
                        n: Int, minCount: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for ((_, text) <- train; tk = text.split(" ");
         k <- 1 to n; i <- 0 to tk.length - k) {
      val g = tk.slice(i, i + k).mkString(" ")
      counts(g) = counts.getOrElse(g, 0L) + 1L
    }
    val lm = counts.filter(_._2 >= minCount)
    val nTokens = train.map(_._2.split(" ").length.toLong).sum
    (for ((id, text) <- held; tk = text.split(" "); pos <- tk.indices) yield {
      val avail = math.min(n, pos + 1)
      val hit = (avail to 1 by -1).find(k =>
        lm.contains(tk.slice(pos - k + 1, pos + 1).mkString(" ")))
      val row = hit match {
        case Some(k) =>
          val num = lm(tk.slice(pos - k + 1, pos + 1).mkString(" "))
          val den = if (k == 1) nTokens
            else lm(tk.slice(pos - k + 1, pos).mkString(" "))
          (k.toLong, (avail - k).toLong, num, den)
        case None => (0L, (avail - 1).toLong, 1L, nTokens)
      }
      (id, pos.toLong) -> row
    }).toMap
  }

  test("scoreTokens equals the plain-Scala twin at orders 1, 2, 4 and 5 " +
    "(generalized slot builder, incl. the CCNet 5-gram regime)") {
    val docs = SynthCorpus.synthDocs(spark, 150)
    val train = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // held-out doc exercises never-seen tokens at every context length
    val held = train ++ Seq((9001L, "qx " + train.head._2.split(" ").take(6)
      .mkString(" ") + " zz qq"))
    val heldDf = held.toDF("doc_id", "text")
    for (n <- Seq(1, 2, 4, 5); mc <- Seq(1L, 2L)) {
      val got = NgramLm.scoreTokens(heldDf,
          NgramLm.lmCounts(docs, "text", n = n, minCount = mc),
          NgramLm.lmTotals(docs, "text"), "doc_id", "text", n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      withClue(s"n=$n minCount=$mc")(
        assert(got == twinScore(train, held, n, mc)))
    }
  }

  test("backoffCensus partitions the token mass by matched order") {
    val cen = NgramLm.backoffCensus(scored(minCount = 2L))
      .where(col("id") === 2L).collect().head
    assert((cen.getLong(1), cen.getLong(2), cen.getLong(3), cen.getLong(4),
      cen.getLong(5), cen.getLong(6)) == (3L, 0L, 1L, 1L, 1L, 2L))
  }

  test("backoffCensus generalizes to any order: o-columns partition " +
    "scored_tokens at n=5, and a census narrower than the model raises") {
    // duplicate the corpus so 5-grams survive minCount=2 (random synth
    // text is hapax at high orders) — order-5 matches must EXIST for the
    // census and the contract guard to be exercised
    val base = SynthCorpus.synthDocs(spark, 120)
    val docs = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + 1000L))
    val sc5 = NgramLm.scoreTokens(docs,
      NgramLm.lmCounts(docs, "text", n = 5, minCount = 2L),
      NgramLm.lmTotals(docs, "text"), "doc_id", "text", n = 5)
    val cen = NgramLm.backoffCensus(sc5, n = 5)
    assert(cen.columns.toSeq == Seq("id", "scored_tokens",
      "o5", "o4", "o3", "o2", "o1", "oov", "total_backoffs"))
    // the order buckets + oov partition the scored mass, per doc
    assert(cen.where(col("o5") + col("o4") + col("o3") + col("o2") +
      col("o1") + col("oov") =!= col("scored_tokens")).isEmpty)
    // each bucket equals the token-grain filter count (the census is a
    // pivot of the scored frame, nothing more)
    val byFilter = (0 to 5).map(k =>
      k -> sc5.where(col("matched_ord") === k.toLong).count()).toMap
    val byCensus = cen.agg(sum("oov"), sum("o1"), sum("o2"), sum("o3"),
        sum("o4"), sum("o5")).head()
    assert((0 to 5).forall(k => byCensus.getLong(k) == byFilter(k)))
    assert(byFilter(5) > 0, "fixture must carry order-5 mass or the test is vacuous")
    // loud contract: censusing 5-gram scores at n=3 raises in-plan
    // instead of silently dropping the o4/o5 mass
    val err = intercept[Exception] {
      NgramLm.backoffCensus(sc5, n = 3).collect()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains("backoffCensus") || mentions(t.getCause))
    assert(mentions(err), s"expected the backoffCensus contract error, got $err")
  }

  test("docLogProb matches a plain-Scala twin") {
    val alpha = 0.4
    val got = NgramLm.docLogProb(scored(minCount = 2L), alpha)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // twin over the hand-checked (backoffs, c_num, c_den) rows
    def twin(rs: Seq[(Long, Long, Long)]): (Double, Double) = {
      val s = rs.map { case (b, n, d) =>
        b * math.log(alpha) + math.log(n.toDouble / d.toDouble) }.sum
      (s / rs.size, math.exp(-s / rs.size))
    }
    val d2 = twin(Seq((0L, 3L, 10L), (0L, 3L, 3L), (2L, 1L, 10L)))
    assert(got(2L)._1 == 3L)
    assert(math.abs(got(2L)._2 - d2._1) < 1e-12)
    assert(math.abs(got(2L)._3 - d2._2) < 1e-12)
    // fluent d1 must score better (lower ppl) than the pruned-tail d2
    assert(got(1L)._3 < got(2L)._3)
  }

  test("pplBandFilter keeps the requested band deterministically on any partitioning") {
    val docs = SynthCorpus.synthDocs(spark, 200)
    val lm = NgramLm.lmCounts(docs, "text", n = 3, minCount = 2L)
    val sc = NgramLm.scoreTokens(docs, lm, NgramLm.lmTotals(docs, "text"),
      "doc_id", "text")
    val kept = NgramLm.pplBandFilter(docs, sc, "doc_id", 0.0, 0.7)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.size == 140) // floor(0.7 * 200)
    val keptRep = NgramLm.pplBandFilter(docs.repartition(7), sc.repartition(5),
        "doc_id", 0.0, 0.7)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == keptRep)
    // the kept set is exactly the 140 lowest-ppl docs (ties id-broken)
    val byPpl = NgramLm.docLogProb(sc).select(col("id"), col("ppl"))
      .collect().map(r => (r.getDouble(1), r.getLong(0))).sorted.take(140)
      .map(_._2).sorted.toSeq
    assert(kept == byPpl)
  }

  test("quantile path above exactRankLimit keeps a comparable band") {
    val docs = SynthCorpus.synthDocs(spark, 200)
    val lm = NgramLm.lmCounts(docs, "text", n = 3, minCount = 2L)
    val sc = NgramLm.scoreTokens(docs, lm, NgramLm.lmTotals(docs, "text"),
      "doc_id", "text")
    val kept = NgramLm.pplBandFilter(docs, sc, "doc_id", 0.0, 0.7,
      exactRankLimit = 1L).select("doc_id").as[Long].collect().toSet
    // approx_percentile at relativeError 0.001 on 200 rows is exact-rank
    // tight: the band edge may shift by at most one rank position
    assert(math.abs(kept.size - 140) <= 2)
  }
}

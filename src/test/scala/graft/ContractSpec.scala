package graft

import org.apache.spark.sql.SparkSession

/** Guards on the driver contract itself. */
class ContractSpec extends SparkSpec {

  // queries/oracleSql are Maps built from the registry: a duplicate name
  // there would silently drop a gate, so the registry itself is checked
  test("the gate registry holds 150 gates under distinct names") {
    val names = SparkEntry.gates.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate gate names: $dups")
    assert(names.size == 150, s"expected 150 gates, got ${names.size}")
  }

  test("gate qNN prefixes are unique (Bench's short metric keys)") {
    val prefixes = SparkEntry.gates.map(_.name.takeWhile(_ != '_'))
    assert(prefixes.forall(_.matches("q[0-9]+")), s"malformed: $prefixes")
    val dups = prefixes.diff(prefixes.distinct)
    assert(dups.isEmpty, s"qNN prefixes shared by several gates: $dups")
  }

  test("entry() returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every gate query executes at the smoke scale factor") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, "/root/testdata/sf0.001").count()
      withClue(name)(assert(n >= 0))
    }
  }

  test("q84 and q104 compile under strict codegen (no interpreted fallback)") {
    // q84 (NearestEval) and q104 (SpanCorrupt) assign a struct returned by
    // a Scala call in generated code; with the fallback off, code janino
    // rejects throws here instead of running the stage interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try Seq("q84_semantic_screen", "q104_span_corruption").foreach { name =>
      // collect, not count: every output column is computed
      withClue(name)(assert(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect().nonEmpty))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("hashSample / hashSampleByGroup reject malformed rates and drop NULL keys") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sampling
    val sess = spark; import sess.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("id")
      .withColumn("grp", when(col("id").isNotNull, lit("g")).otherwise(lit("g")))
    // rate contract: 0 <= num <= denom, denom > 0 — on every group's rate
    // AND the default (a zero denom is a division-by-zero admission test;
    // num > denom silently keeps everything)
    for (bad <- Seq((-1, 2), (3, 2), (1, 0)))
      intercept[IllegalArgumentException] {
        Sampling.hashSampleByGroup(df, "grp", "id", Map("g" -> bad))
      }
    intercept[IllegalArgumentException] {
      Sampling.hashSampleByGroup(df, "grp", "id", Map("g" -> ((1, 2))),
        defaultRate = (2, 1))
    }
    // the quota twin (the q146 draw) rejects negative quotas the same way
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(df, "grp", "id", Map("g" -> -1), defaultQuota = 0)
    }
    // the null-propagating concat convention: a NULL key hashes NULL, so
    // a keep-everything rate still drops the NULL row (the oracle's `||`)
    assert(Sampling.hashSample(df, "id", 1, 1).count() == 2)
    assert(Sampling.hashSampleByGroup(df, "grp", "id", Map("g" -> ((1, 1))))
      .count() == 2)
    // ppsSample rides the same convention (ADVICE r8): certainty-weight
    // rows enter iff their id is non-null
    val w = df.withColumn("wt", lit(1000000L))
    assert(Sampling.ppsSample(w, "id", col("wt"), targetRows = 100L,
      seed = 7L).count() == 2)
    assert(Sampling.ppsSampleWithTotal(w, "id", col("wt"), targetRows = 100L,
      seed = 7L, total = 3000000L).count() == 2)
    // and the Σw DENOMINATOR is the SAMPLEABLE population (ADVICE r9):
    // the NULL-id row's weight must not dilute incl_prob/ht_weight —
    // two sampleable 1M-weight rows at target 1 means incl_prob is
    // exactly 0.5 (not 1/3 against a 3M total that includes the
    // permanently unsampleable NULL row)
    val probs = Sampling.ppsSample(w, "id", col("wt"), targetRows = 1L,
      seed = 7L).select("incl_prob").collect().map(_.getDouble(0))
    // non-vacuity (ADVICE r10): at the CORRECT 0.5 inclusion probability
    // and seed 7 both sampleable rows' draws admit, so an empty `probs`
    // means the denominator regressed to the biased 3M total (whose 1/3
    // probability rejects both draws) — the forall alone cannot see that
    assert(probs.length == 2, s"expected both rows admitted at p=0.5, " +
      s"got ${probs.length} — denominator regressed to the full total?")
    assert(probs.forall(_ == 0.5), s"HT denominator biased: ${probs.toSeq}")
  }

  test("bandRateAdmission rejects orders below the order->=2 permille floor") {
    import graft.operators.NgramLm
    val sess = spark; import sess.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val lm = NgramLm.lmCounts(docs, "text")
    val tot = NgramLm.lmTotals(docs, "text")
    intercept[IllegalArgumentException] {
      NgramLm.bandRateAdmission(docs, lm, tot, "doc_id", "text",
        Map("head" -> ((1, 1))), n = 1)
    }
    // and the rate contract propagates through the composed rule: the
    // draw is built eagerly, so a malformed band rate fails at call time
    intercept[IllegalArgumentException] {
      NgramLm.bandRateAdmission(docs, lm, tot, "doc_id", "text",
        Map("head" -> ((3, 2))))
    }
  }

  test("graft SQL functions evaluate after registration") {
    GraftExtensions.registerInto(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c,
        |       graft_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d,
        |       graft_dot_fd(array(1.0f, 2.0f), array(3.0d, 4.0d)) AS dfd,
        |       graft_shingles('a b c d', 3) AS s,
        |       graft_ngram_repetition('a b a b', 2) AS rep""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getAs[Double]("dfd") == 11.0)
    assert(r.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](4) == Seq(4L, 4L)) // "a b" ×2 · mass 2; all 4 chars covered
  }
}

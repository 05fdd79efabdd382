package graft

import graft.gen.SynthCorpus
import java.nio.file.Files

/** The scaling probe's row table and its write-once corpus rule, checked
  * without running a row. */
class DiskScaleSpec extends SparkSpec {

  test("every row key is unique and the table keeps every key the probe has emitted") {
    val keys = DiskScale.Rows.map(_.key)
    assert(keys.distinct == keys, s"duplicate keys: ${keys.diff(keys.distinct)}")
    // the JSON keys of the in-memory probe (graft.ScaleProbe, folded into
    // DiskScale) and of DiskScale before the fold
    val inMemory = Set("exact_dedup", "minhash_sig", "lsh_cands", "simhash_pairs",
      "jaccard_capped", "ivf_knn", "embed_neardup", "embed_neardup_np2", "components",
      "kmeans_train", "assign_flat", "assign_hier", "vocab_topk", "tfidf_terms",
      "chunking", "redact", "oov", "quantize", "contam_exact", "contam_bloom",
      "contam_capped", "span_ranges", "span_pairs", "span_hot", "span_decut",
      "fuzzy_pairs", "winnow_fp", "winnow_pairs", "jaccard_prefix",
      "jaccard_prefix_t05", "jaccard_prefix_t07", "jaccard_prefix_t09",
      "jaccard_full_t07", "jaccard_full_t08", "jaccard_full_t09", "span_full_clean",
      "span_sparse_clean", "span_full_d20", "span_sparse_d20", "span_full_d50",
      "span_sparse_d50", "span_sparse_w13", "span_sparse_w13_d20", "span_sparse_amz")
    val onDisk = Set("jac_capped", "jac_prefix08", "span_ranges", "span_sparse_w13",
      "winnow", "span_sparse_amz", "fuzzy_pairs", "quality_funnel", "lm_build",
      "lm_score", "lm5_build", "lm5_score", "band_build", "band", "band_rate",
      "cls_score", "cap", "cap_banded", "qtl_sketch", "qtl_exact")
    // the renames SCALE.md's key map records: the in-memory span_full_clean
    // was on-disk span_ranges (same operator, same 4%-dirty corpus); the
    // in-memory span_ranges read the clean corpus and is span_ranges_docs
    val expected = inMemory ++ onDisk - "span_full_clean" + "span_ranges_docs"
    assert(keys.toSet == expected,
      s"missing: ${expected -- keys}; unexpected: ${keys.toSet -- expected}")
  }

  test("the ops filter keeps table order, and an unknown key fails before any corpus is written") {
    assert(DiskScale.select("all").map(_.key) == DiskScale.Rows.map(_.key))
    assert(DiskScale.select("cap, jac_capped").map(_.key) == Seq("jac_capped", "cap"))
    val workdir = Files.createTempDirectory("graft-probe").resolve("work")
    val e = intercept[IllegalArgumentException](
      DiskScale.main(Array("2000", workdir.toString, "jac_capped,jac_cappd")))
    assert(e.getMessage.contains("jac_cappd"))
    assert(!Files.exists(workdir))
  }

  test("writeOnce rewrites a killed write's uncommitted directory and reuses a committed one") {
    val path = Files.createTempDirectory("graft-writeonce").resolve("docsh_40")
    Files.createDirectories(path.resolve("_temporary"))
    assert(SynthCorpus.writeOnce(SynthCorpus.synthDocs(spark, 40), spark,
      path.toString).count() == 40)
    assert(Files.exists(path.resolve("_SUCCESS")))
    // committed: the artifact is read back, the frame is not written again
    assert(SynthCorpus.writeOnce(SynthCorpus.synthDocs(spark, 7), spark,
      path.toString).count() == 40)
    assert(!Files.exists(path.resolve("_temporary")))
  }
}

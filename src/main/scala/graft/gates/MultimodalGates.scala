package graft.gates

import graft.SparkEntry.{duckHash, t}
import graft.operators.Multimodal

/** Multimodal gates: binary media metadata, frame fan-out and byte
  * features, frame-hash near-dup pairs and scene boundaries. */
object MultimodalGates {

  val gates: Seq[Gate] = Seq(
    // Binary payload + stub metadata decode (deterministic pseudo-header).
    Gate("q27_media_metadata")((s, dir) =>
      Multimodal.decodeMetadata(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"))
        .select("doc_id", "byte_len", "content_md5", "width", "height", "n_frames")) {
      val h = duckHash("text") // md5(utf8 bytes of text) == md5 of the binary payload
      s"""SELECT doc_id,
         | CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         | md5(text) AS content_md5,
         | CAST(64 + $h%448 AS INTEGER) AS width,
         | CAST(64 + ($h>>9)%448 AS INTEGER) AS height,
         | CAST(1 + ($h>>18)%30 AS INTEGER) AS n_frames
         |FROM documents""".stripMargin
    },

    // Frame fan-out: one row per fixed-size byte window.
    Gate("q28_frame_sample")((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"), frameBytes = 100)
        .select("doc_id", "frame_idx", "frame_md5")) {
      """SELECT doc_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
        | md5(substr(text, f.frame_idx*100+1, 100)) AS frame_md5
        |FROM documents,
        | LATERAL (SELECT unnest(range(0, CAST(floor((octet_length(encode(text))-1)/100) AS BIGINT)+1)) AS frame_idx) f""".stripMargin
    },

    // mapPartitions feature extraction (byte histogram).
    Gate("q29_media_features")((s, dir) =>
      Multimodal.byteHistogramFeatures(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"), "doc_id")) {
      // Byte histogram, long shape: extract byte i as hex-pair → integer, bin
      // by (byte*16)/256, left-join against the full 16-bin frame so
      // zero-count bins appear (the Spark side emits all bins per doc).
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  octet_length(encode(text)) AS n FROM documents),
        |bytes AS (SELECT doc_id, CAST(('0x' || substr(hx, 2*i+1, 2)) AS INTEGER) AS byte
        |          FROM b, LATERAL (SELECT unnest(range(0, n)) AS i) t),
        |cnt AS (SELECT doc_id, (byte*16)//256 AS bin, CAST(count(*) AS BIGINT) AS c
        |        FROM bytes GROUP BY doc_id, (byte*16)//256)
        |SELECT d.doc_id, CAST(bins.bin AS INTEGER) AS bin,
        |       CAST(coalesce(c, 0) AS BIGINT) AS bin_count,
        |       CASE WHEN d.n = 0 THEN 0.0
        |            ELSE CAST(coalesce(c, 0) AS DOUBLE)/d.n END AS value
        |FROM (SELECT doc_id, n FROM b) d
        |CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bins
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.bin = bins.bin""".stripMargin
    },

    // Media near-dup via frame-hash Jaccard (video-dedup shape): payloads
    // fan out to fixed-size frames, near-dup = frame-set overlap ≥ 0.5.
    // Uncapped here so the oracle is the plain set-overlap join.
    Gate("q94_frame_neardup")((s, dir) =>
      graft.operators.Multimodal.frameNearDupPairs(
        graft.operators.Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"),
        "doc_id", "content", frameBytes = 100, threshold = 0.5,
        maxBucket = Int.MaxValue)) {
      // Frame-hash Jaccard near-dup: q28's frame CTE (byte windows of the
      // UTF-8 payload), distinct per doc, then the q18 set-overlap shape —
      // joined on raw md5 strings, independently validating the 60-bit
      // hash path on the Spark side.
      """WITH fr AS (SELECT DISTINCT doc_id,
        |   md5(substr(text, f.frame_idx*100+1, 100)) AS fh
        |  FROM documents,
        |   LATERAL (SELECT unnest(range(0,
        |     CAST(floor((octet_length(encode(text))-1)/100) AS BIGINT)+1)) AS frame_idx) f),
        |sz AS (SELECT doc_id, count(*) AS n FROM fr GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(count(*) AS BIGINT) AS shared
        |  FROM fr a JOIN fr b USING (fh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | CAST(shared AS DOUBLE)/CAST(x.n + y.n - shared AS DOUBLE) AS jaccard
        |FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
        |WHERE CAST(shared AS DOUBLE)/CAST(x.n + y.n - shared AS DOUBLE) >= 0.5""".stripMargin
    },

    // Scene/shot boundary detection over the frame stream: lag +
    // bit_count(xor) Hamming screen + running scene ids, one doc-keyed
    // window — the temporal-segmentation twin of q28's frame fan-out
    // (perceptual hashes slot in where the stand-in hash sits).
    Gate("q116_scene_bounds")((s, dir) =>
      Multimodal.sceneBoundaries(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"),
        "doc_id", frameBytes = 100, maxHamming = 29)) {
      // Scene boundaries: q28's frame enumeration + the same 60-bit hash,
      // lag/bit_count(xor) screen, running boundary sum − 1 as scene id.
      s"""WITH f AS (SELECT doc_id, CAST(fr.frame_idx AS INTEGER) AS frame_idx,
         |  ${duckHash("substr(text, fr.frame_idx*100+1, 100)")} AS h
         | FROM documents, LATERAL (SELECT unnest(range(0,
         |   CAST(floor((octet_length(encode(text))-1)/100) AS BIGINT)+1)) AS frame_idx) fr),
         |l AS (SELECT *, lag(h) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |      FROM f),
         |b AS (SELECT doc_id, frame_idx,
         |  (prev IS NULL OR bit_count(xor(h, prev)) > 29) AS is_boundary FROM l)
         |SELECT doc_id, frame_idx, is_boundary,
         | CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
         |   OVER (PARTITION BY doc_id ORDER BY frame_idx) - 1 AS BIGINT) AS scene_id
         |FROM b""".stripMargin
    }
  )
}

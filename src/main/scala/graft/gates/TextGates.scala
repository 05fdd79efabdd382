package graft.gates

import graft.SparkEntry.{GopherKeptCond, RepetitionKeptCond, docQualityBaseSql,
  docQualitySql, duckHash, duckShingleSet, gopherCtes, repetitionCtes, t}
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text gates: token and quality statistics, vocabulary and tf-idf,
  * fingerprints, PII redaction, chunking, markup stripping, JSONL export,
  * the trained tokenizers (BPE merges, subword encode and packing), the
  * Gopher quality and repetition screens, and the span-level training
  * transforms (two-view crops, span corruption, fill-in-the-middle). */
object TextGates {

  val gates: Seq[Gate] = Seq(
    Gate("q14_doc_token_stats")((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("token_count"),
        Text.avgTokenLength(col("text")).as("avg_token_len"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"))) {
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS INTEGER) AS token_count,
        | (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text,' ')) AS DOUBLE)-1.0))
        |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS avg_token_len,
        | CAST(len(list_filter(string_split(text,' '), x->x='the'))
        |    + len(list_filter(string_split(text,' '), x->x='a'))
        |    + len(list_filter(string_split(text,' '), x->x='of'))
        |    + len(list_filter(string_split(text,' '), x->x='and'))
        |    + len(list_filter(string_split(text,' '), x->x='to')) AS DOUBLE)
        |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
        |FROM documents""".stripMargin
    },

    Gate("q15_doc_quality_langid")((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.docQualityScore(col("text")).as("quality_score"),
        Text.langIdHeuristic(col("text")).as("lang_pred"))) {
      s"""SELECT doc_id,
         | $docQualitySql AS quality_score,
         | $docLangSql AS lang_pred
         |FROM ($docQualityBaseSql)""".stripMargin
    },

    // Order-sensitive rolling-hash fingerprint.
    Gate("q17_doc_fingerprint")((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))) {
      s"""SELECT doc_id,
         | list_reduce(
         |   list_transform(string_split(text,' '), t -> ${duckHash("t")} % 1000000007),
         |   (a, b) -> (a*31 + b) % 1000000007) AS fingerprint
         |FROM documents""".stripMargin
    },

    // Corpus vocabulary: top-100 tokens by occurrences with document
    // frequency (tokenizer-training / IDF inputs).
    Gate("q47_vocab_topk")((s, dir) =>
      graft.operators.CorpusStats.topVocabulary(t(s, dir, "documents"), "text", k = 100)) {
      """WITH tf AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS occurrences
        | FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token),
        |df AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
        | FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token)
        |SELECT token, occurrences, doc_freq
        |FROM tf JOIN df USING (token)
        |ORDER BY occurrences DESC, token ASC LIMIT 100""".stripMargin
    },

    // Per-document characteristic terms by tf·idf (exact-ratio idf).
    Gate("q48_tfidf_top_terms")((s, dir) =>
      graft.operators.CorpusStats.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)) {
      """WITH tf AS (
        | SELECT doc_id AS id, token, CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY doc_id, token),
        |df AS (
        | SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
        | FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        | SELECT id, token, CAST(tf * n_docs AS DOUBLE)/doc_freq AS score
        | FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT id, CAST(rank AS INTEGER) AS rank, token, score FROM (
        | SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, token ASC) AS rank
        | FROM scored) WHERE rank <= 5""".stripMargin
    },

    // Repetition stats (Gopher/C4-style quality signal): duplicate-3gram
    // fraction per document — narrow projection, no shuffle.
    Gate("q51_repetition_stats")((s, dir) => {
      val total = greatest(Text.tokenCount(col("text")) - 2, lit(0)).cast("long")
      val distinctN = size(Text.shingleSet(col("text"), 3)).cast("long")
      t(s, dir, "documents").select(
        col("doc_id"), total.as("total_3grams"), distinctN.as("distinct_3grams"),
        when(total > 0,
          lit(1.0) - distinctN.cast("double") / total.cast("double"))
          .otherwise(0.0).as("repetition_ratio"))
    }) {
      s"""SELECT doc_id,
         | CAST(GREATEST(len(string_split(text,' ')) - 2, 0) AS BIGINT) AS total_3grams,
         | CAST(len(${duckShingleSet("text", 3)}) AS BIGINT) AS distinct_3grams,
         | CASE WHEN GREATEST(len(string_split(text,' ')) - 2, 0) > 0
         |  THEN 1.0 - CAST(len(${duckShingleSet("text", 3)}) AS DOUBLE)
         |        / CAST(GREATEST(len(string_split(text,' ')) - 2, 0) AS DOUBLE)
         |  ELSE 0.0 END AS repetition_ratio
         |FROM documents""".stripMargin
    },

    // PII redaction: scrub emails/IPs/phones from synthesized contact
    // messages (the corpus has no organic PII — the fixture plants it
    // deterministically from customer columns, same construction in the
    // oracle). Narrow projection; counts audited on the ORIGINAL text.
    Gate("q53_pii_redaction")((s, dir) => {
      val msg = piiMessage(t(s, dir, "customer"))
      msg.select(col("c_custkey"),
        md5(Text.redactPii(col("msg"))).as("redacted_md5"),
        Text.piiCount(col("msg"), Text.EmailPattern).as("n_emails"),
        Text.piiCount(col("msg"), Text.IpPattern).as("n_ips"),
        Text.piiCount(col("msg"), Text.PhonePattern).as("n_phones"),
        Text.bpeishTokenCount(col("msg")).as("n_bpeish_tokens"))
    }) {
      // PII redaction: message synthesis + regex patterns mirror the Scala
      // exactly (portable regex subset; DuckDB needs the explicit 'g' flag —
      // its regexp_replace defaults to first-match, Spark's to all).
      s"""WITH m AS (SELECT c_custkey,
         | concat_ws(' ', 'user', c_name, 'email',
         |  lower(c_mktsegment) || '.' || CAST(c_custkey AS VARCHAR) || '@corp.example',
         |  CASE WHEN c_custkey % 3 <> 0 THEN 'phone 555-' ||
         |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') END,
         |  CASE WHEN c_custkey % 4 = 0 THEN 'ip 10.' ||
         |    CAST(c_custkey % 223 AS VARCHAR) || '.' ||
         |    CAST(c_nationkey % 250 AS VARCHAR) || '.' ||
         |    CAST((c_custkey * 7) % 250 AS VARCHAR) END) AS msg
         | FROM customer)
         |SELECT c_custkey,
         | md5(regexp_replace(regexp_replace(regexp_replace(msg,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '[EMAIL]', 'g'),
         |   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[IP]', 'g'),
         |   '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5,
         | CAST(len(regexp_extract_all(msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(msg, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
         | CAST(len(regexp_extract_all(msg, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(msg, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish_tokens
         |FROM m""".stripMargin
    },

    // Overlapping token chunks (RAG/context-window ingestion): 32-token
    // windows advancing by 24 — zero-shuffle generator fan-out.
    Gate("q54_doc_chunks")((s, dir) =>
      graft.operators.Chunking.chunkByTokens(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 32, stride = 24)) {
      // Chunking: identical integer-in-double chunk-count arithmetic;
      // list_slice is 1-based inclusive and clamps, like Spark's slice.
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
         |c AS (SELECT doc_id, toks,
         |  CASE WHEN n <= 32 THEN 1
         |       ELSE CAST(floor((n - 32 + 24 - 1)/24.0) AS BIGINT) + 1 END AS nc FROM d),
         |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx FROM c)
         |SELECT doc_id, chunk_idx, chunk_idx*24 AS start_tok,
         | CAST(len(list_slice(toks, chunk_idx*24+1, chunk_idx*24+32)) AS BIGINT) AS chunk_tokens,
         | md5(array_to_string(list_slice(toks, chunk_idx*24+1, chunk_idx*24+32), ' ')) AS chunk_md5
         |FROM e""".stripMargin
    },

    // Vocabulary coverage: per-doc OOV rate against the corpus's own
    // top-20 vocab (31 distinct tokens exist — the cutoff bites).
    Gate("q57_oov_rate")((s, dir) =>
      graft.operators.CorpusStats.oovStats(t(s, dir, "documents"),
          "doc_id", "text", vocabSize = 20)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("oov_count"), col("oov_rate"))) {
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
         |  FROM documents),
         |tf AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
         |v AS (SELECT token, 1 AS in_vocab FROM tf
         |      ORDER BY c DESC, token ASC LIMIT 20)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_count,
         | CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |   / CAST(count(*) AS DOUBLE) AS oov_rate
         |FROM tok LEFT JOIN v USING (token) GROUP BY doc_id""".stripMargin
    },

    // Cleaning funnel: ordered quality cascade with first-failure
    // attribution (thresholds chosen so every stage drops >0 docs at
    // sf0.01: 58/17/27/1, 397 pass).
    Gate("q59_filter_funnel")((s, dir) =>
      graft.operators.Cleaning.funnelReport(t(s, dir, "documents"), funnelStages)) {
      // Funnel: first-failing-stage CASE chain in the exact stage order and
      // with the same int-counts-cast-to-double ratio construction.
      s"""WITH d AS (SELECT n_chars,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS ntok,
         |  CAST(len(list_filter(string_split(text,' '),
         |    t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS sw,
         |  CAST(len(${duckShingleSet("text", 3)}) AS BIGINT) AS d3
         | FROM documents),
         |s AS (SELECT CASE
         |  WHEN NOT (n_chars >= 120) THEN 0
         |  WHEN NOT (ntok >= 25) THEN 1
         |  WHEN NOT (CAST(sw AS DOUBLE)/CAST(ntok AS DOUBLE) > 0.02) THEN 2
         |  WHEN NOT (CAST(d3 AS DOUBLE)/CAST(ntok - 2 AS DOUBLE) >= 0.97) THEN 3
         |  ELSE 4 END AS idx FROM d)
         |SELECT CAST(idx AS BIGINT) AS drop_stage_idx,
         | CASE idx WHEN 0 THEN 'too_short' WHEN 1 THEN 'too_few_tokens'
         |          WHEN 2 THEN 'low_stopword' WHEN 3 THEN 'high_repetition'
         |          ELSE 'pass' END AS drop_stage,
         | CAST(count(*) AS BIGINT) AS n_docs
         |FROM s GROUP BY idx""".stripMargin
    },

    // Sentence-aware chunking (RAG ingestion): never cuts mid-sentence;
    // chunk layout varies per row via the synthesized variable-length
    // second sentence. Array output reduced to scalar rows (count, token
    // sum, md5 of the joined sentences) for the oracle hash.
    Gate("q68_sentence_chunks")((s, dir) =>
      graft.operators.Chunking.chunkBySentences(
          sentenceMessage(t(s, dir, "customer")), "c_custkey", "msg", maxTokens = 6)
        .select(col("doc_id").as("c_custkey"), col("chunk_idx"),
          size(col("sentences")).cast("long").as("n_sentences"),
          col("chunk_tokens"),
          md5(array_join(col("sentences"), " ")).as("sentences_md5"))) {
      // Sentence chunking: same synthesized message, same split pattern,
      // cumulative token offsets via the identical lag-free window, chunk
      // membership by offset floor-division; sentences re-join in sent_idx
      // order for the md5.
      s"""WITH m AS (SELECT c_custkey,
         |  'customer ' || c_name || ' ranks high. segment ' || lower(c_mktsegment) ||
         |  ' moves ' || trim(substr('very very very very ', 1,
         |    CAST(5*(1 + c_custkey % 4) AS INTEGER))) ||
         |  ' fast! account ' || CAST(c_custkey AS VARCHAR) || ' closes. bye' AS msg
         | FROM customer),
         |s0 AS (SELECT c_custkey,
         |  list_filter(regexp_split_to_array(msg, '[.!?]+\\s*'), x -> len(x) > 0) AS sents
         | FROM m),
         |se AS (SELECT c_custkey, generate_subscripts(sents, 1) - 1 AS sent_idx,
         |        unnest(sents) AS sentence FROM s0),
         |tok AS (SELECT c_custkey, sent_idx, sentence,
         |        CAST(len(string_split(sentence, ' ')) AS BIGINT) AS sent_tokens FROM se),
         |off AS (SELECT *, coalesce(sum(sent_tokens) OVER (PARTITION BY c_custkey
         |        ORDER BY sent_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS start_offset FROM tok),
         |ch AS (SELECT c_custkey, CAST(floor(start_offset / 6.0) AS BIGINT) AS chunk_idx,
         |        sent_idx, sentence, sent_tokens FROM off)
         |SELECT c_custkey, chunk_idx,
         | CAST(count(*) AS BIGINT) AS n_sentences,
         | CAST(sum(sent_tokens) AS BIGINT) AS chunk_tokens,
         | md5(string_agg(sentence, ' ' ORDER BY sent_idx)) AS sentences_md5
         |FROM ch GROUP BY c_custkey, chunk_idx""".stripMargin
    },

    // Sequence packing under TOKENIZER-FAITHFUL subword budgets: the q50
    // machinery consuming Subword.countColumn (table lookup + char-count
    // fallback) instead of whitespace counts — the budget a trainer
    // actually sees. Vocabulary trained from constants so the oracle can
    // inline the identical table (see SubwordGateFreqs).
    Gate("q69_subword_pack")((s, dir) =>
      graft.operators.Packing.packSequences(t(s, dir, "documents"), "doc_id",
        graft.functions.Subword.countColumn(col("text"), SubwordGateVocab),
        shards = 4, maxTokens = 256)) {
      // Subword-budget packing: identical pack math as q50, with tokens from
      // the inlined constant-trained word→units table (char-count fallback
      // via the left join's coalesce — the Column path's exact rule).
      {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      val values = SubwordGateVocab.wordUnits.toSeq.sortBy(_._1)
        .map { case (w, u) => s"('$w', $u)" }.mkString(", ")
      s"""WITH v(word, units) AS (VALUES $values),
         |w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
         |cnt AS (SELECT w.doc_id,
         |  CAST(sum(coalesce(v.units, len(w.word))) AS BIGINT) AS tokens
         | FROM w LEFT JOIN v USING (word) GROUP BY w.doc_id),
         |d AS (SELECT doc_id, tokens, $h AS h, $h % 4 AS shard FROM cnt),
         |o AS (SELECT doc_id, shard, tokens,
         |  CAST(COALESCE(sum(tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
         | FROM d)
         |SELECT doc_id, shard, tokens, start_offset,
         | CAST(floor(CAST(start_offset AS DOUBLE)/256.0) AS BIGINT) AS pack_id,
         | CAST(floor((CAST(start_offset AS DOUBLE)+tokens-1.0)/256.0) AS BIGINT)
         |  - CAST(floor(CAST(start_offset AS DOUBLE)/256.0) AS BIGINT) + 1 AS spans_packs
         |FROM o""".stripMargin
    }
    },

    // Bigram novelty (perplexity-proxy quality screen): rare-transition
    // rate + mean bigram corpus count, exact integer/ratio arithmetic.
    Gate("q70_bigram_novelty")((s, dir) =>
      graft.operators.CorpusStats.bigramNovelty(t(s, dir, "documents"),
          "doc_id", "text", rareThreshold = 1L)
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("rare_rate"), col("mean_bigram_count"))) {
      // Bigram novelty: non-distinct positional bigrams (the spanCte shape
      // at width 2), corpus counts joined back, exactAvg mean.
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
         |       FROM t WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, array_to_string(toks[i:i+1],' ') AS bigram FROM ix),
         |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bigram)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         | CAST(sum(CASE WHEN c.c <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |   / CAST(count(*) AS DOUBLE) AS rare_rate,
         | CAST(sum(CAST(c.c AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_bigram_count
         |FROM bg JOIN c USING (bigram) GROUP BY doc_id""".stripMargin
    },

    // Corpus data card: the one-row release summary (docs, token stats,
    // dup rate, language spread, mean quality) every published dataset
    // ships — byte-identical under repartitioning (decimal sums,
    // deterministic top-lang tie-break).
    Gate("q81_corpus_datacard")((s, dir) =>
      graft.operators.CorpusStats.corpusReport(
        t(s, dir, "documents"), "doc_id", "text")) {
      // Corpus data card: one-row release summary; decimal-sum means,
      // deterministic top-lang tie-break, q17's fingerprint for dup rate.
      s"""WITH d AS (
         | SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  list_reduce(
         |    list_transform(string_split(text,' '), t -> ${duckHash("t")} % 1000000007),
         |    (a, b) -> (a*31 + b) % 1000000007) AS fp,
         |  $docLangSql AS lang,
         |  $docQualitySql AS quality
         | FROM ($docQualityBaseSql)),
         |lt AS (SELECT lang AS top_lang FROM d GROUP BY lang
         |       ORDER BY count(*) DESC, lang ASC LIMIT 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         | CAST(sum(CAST(n_tokens AS DECIMAL(28,6))) AS DOUBLE)/count(n_tokens) AS avg_tokens,
         | quantile_cont(n_tokens, 0.5) AS p50_tokens,
         | max(n_tokens) AS max_tokens,
         | CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fingerprints,
         | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         | CAST(sum(CAST(quality AS DECIMAL(28,6))) AS DOUBLE)/count(quality) AS avg_quality,
         | CAST(count(*) - count(DISTINCT fp) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS dup_rate,
         | (SELECT top_lang FROM lt) AS top_lang
         |FROM d""".stripMargin
    },

    // Markup → text extraction over a synthesized HTML fixture (the
    // corpus is already clean text): script/style/comment blocks die with
    // their contents, tags strip to spaces, the six common entities
    // decode (&amp; last), whitespace collapses. Same regexes run on both
    // engines (backreference-free, lazy quantifiers only).
    Gate("q98_markup_strip")((s, dir) => {
      val html = markupDoc(t(s, dir, "documents"))
      html.select(col("doc_id"),
        Text.stripMarkup(col("html")).as("clean_text"),
        Text.linkCount(col("html")).as("n_links"))
    }) {
      // Markup strip: the same fixture construction and the same
      // backreference-free regexes (DuckDB regexp_replace needs the 'g'
      // flag — it is first-match-only by default, unlike Spark's).
      {
      val link = "<a href=\"https://example.com/x\">link</a>"
      s"""WITH base AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</title><style type="text/css">p{margin:0}</style>' ||
         |  '<script>var d=' || CAST(doc_id AS VARCHAR) ||
         |  ';track(d);</script></head><body><!-- rendered -->' ||
         |  '<h1 class="t">Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</h1><p>' || text ||
         |  '</p><p>Tags &amp; entities: &lt;b&gt;&nbsp;&quot;q&quot; &#39;s&#39;</p>' ||
         |  CASE doc_id % 3 WHEN 1 THEN '$link'
         |                  WHEN 2 THEN '$link$link' ELSE '' END ||
         |  '</body></html>' AS html FROM documents),
         |s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(regexp_replace(html,
         |  '(?i)<script[^>]*>.*?</script>', ' ', 'g'),
         |  '(?i)<style[^>]*>.*?</style>', ' ', 'g'),
         |  '<!--.*?-->', ' ', 'g') AS t FROM base),
         |s2 AS (SELECT doc_id, html,
         |  regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, html,
         |  replace(replace(replace(replace(replace(replace(t,
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2)
         |SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text,
         |  (length(html) - length(replace(html, '<a ', ''))) // 3 AS n_links
         |FROM s3""".stripMargin
    }
    },

    // Contrastive two-view crops: two disjoint seeded-hash 8-token spans
    // per eligible doc — the positive-pair generator for embedding
    // pretraining, bit-reproducible on any partitioning.
    Gate("q102_span_views")((s, dir) =>
      graft.operators.Chunking.spanViews(t(s, dir, "documents"),
        "doc_id", "text", viewLen = 8, seed = 7L)) {
      // Two-view crops: both starts are seeded-hash mods of the slack —
      // all BIGINT arithmetic; views re-sliced from the token list.
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS parts
         |  FROM documents),
         |e AS (SELECT doc_id, parts, CAST(len(parts) AS BIGINT) AS n_tokens
         |  FROM d WHERE len(parts) >= 16),
         |a AS (SELECT doc_id, parts, n_tokens,
         |  ${duckHash("'7 a ' || CAST(doc_id AS VARCHAR)")} % (n_tokens - 15) AS a_start
         | FROM e),
         |b AS (SELECT doc_id, parts, n_tokens, a_start,
         |  a_start + 8 + ${duckHash("'7 b ' || CAST(doc_id AS VARCHAR)")}
         |    % (n_tokens - a_start - 15) AS b_start
         | FROM a)
         |SELECT doc_id, n_tokens, a_start, b_start,
         | array_to_string(list_slice(parts, a_start + 1, a_start + 8), ' ') AS view_a,
         | array_to_string(list_slice(parts, b_start + 1, b_start + 8), ' ') AS view_b
         |FROM b""".stripMargin
    },

    // T5-style span corruption (15% seeded-hash Bernoulli per position,
    // consecutive masks merge into one sentinel span): input text with
    // <extra_id_k> sentinels + the span targets — the denoising-objective
    // pair, bit-reproducible across epochs/partitionings.
    Gate("q104_span_corruption")((s, dir) =>
      graft.operators.Augment.spanCorruption(t(s, dir, "documents"),
          "doc_id", "text", noisePct = 15, seed = 7L)
        .withColumnRenamed("id", "doc_id")) {
      // Span corruption: same per-position Bernoulli hash, lag/run-id
      // windows over the unique pos order, string_agg ORDER BY pos.
      s"""WITH t0 AS (SELECT doc_id AS id, string_split(text,' ') AS parts
         |  FROM documents),
         |t AS (SELECT id, unnest(parts) AS tok,
         |  generate_subscripts(parts, 1) - 1 AS pos FROM t0),
         |m AS (SELECT id, pos, tok,
         |  (${duckHash("'7 m ' || CAST(id AS VARCHAR) || ' ' || CAST(pos AS VARCHAR)")} % 100) < 15
         |    AS masked FROM t),
         |r1 AS (SELECT *, masked AND NOT
         |  coalesce(lag(masked) OVER (PARTITION BY id ORDER BY pos), false)
         |    AS run_start FROM m),
         |r AS (SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
         |  OVER (PARTITION BY id ORDER BY pos) AS run_id FROM r1),
         |inp AS (SELECT id, string_agg(CASE WHEN masked
         |    THEN '<extra_id_' || CAST(run_id - 1 AS VARCHAR) || '>'
         |    ELSE tok END, ' ' ORDER BY pos) AS input_text
         |  FROM r WHERE NOT masked OR run_start GROUP BY id),
         |tgt AS (SELECT id, string_agg(CASE WHEN run_start
         |    THEN '<extra_id_' || CAST(run_id - 1 AS VARCHAR) || '> ' || tok
         |    ELSE tok END, ' ' ORDER BY pos) AS target_core,
         |  count(*) AS n_masked, CAST(max(run_id) AS BIGINT) AS n_spans
         |  FROM r WHERE masked GROUP BY id)
         |SELECT inp.id AS doc_id, input_text,
         | coalesce(target_core || ' <extra_id_' || CAST(n_spans AS VARCHAR) || '>',
         |          '<extra_id_0>') AS target_text,
         | coalesce(n_masked, 0) AS n_masked,
         | coalesce(n_spans, 0) AS n_spans
         |FROM inp LEFT JOIN tgt USING (id)""".stripMargin
    },

    // JSONL export lines: compact RFC-8259 JSON per row, field order =
    // column order — Spark's Jackson writer and DuckDB's to_json agree
    // byte-for-byte on the minimal escape set, gated here with an
    // escape-bearing synthesized field (newline, quote, tab, backslash).
    Gate("q106_jsonl")((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.Layout.jsonLine(Seq(
          col("doc_id"), col("lang"),
          concat(col("text"), lit("\n\"quoted\"\t\\end")).as("msg")))
          .as("json_line"))) {
      // JSONL lines: struct_pack preserves field order; both engines emit
      // the RFC-8259 minimal escape set byte-for-byte.
      s"""SELECT doc_id, to_json(struct_pack(doc_id := doc_id, lang := lang,
         |  msg := text || chr(10) || '"quoted"' || chr(9) || '\\end'))
         |    AS json_line
         |FROM documents""".stripMargin
    },

    // Fill-in-the-middle transform (60% FIM rate): PSM reordering at two
    // seeded token boundaries — infilling supervision from left-to-right
    // training, bit-reproducible across epochs. Zero-shuffle projection.
    Gate("q109_fim")((s, dir) =>
      graft.operators.Augment.fimTransform(t(s, dir, "documents"),
          "doc_id", "text", applyPct = 60, seed = 7L)
        .withColumnRenamed("id", "doc_id")) {
      // FIM: same seeded draws over the n+1 token boundaries; PSM rebuild
      // via 1-based inclusive list slices (toks[1:lo] / [hi+1:n] / [lo+1:hi]).
      s"""WITH d AS (SELECT doc_id, text, string_split(text,' ') AS toks,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
         |c AS (SELECT *,
         |  (${duckHash("'7 f ' || CAST(doc_id AS VARCHAR)")} % 100) < 60 AS applied,
         |  ${duckHash("'7 a ' || CAST(doc_id AS VARCHAR)")} % (n+1) AS c1,
         |  ${duckHash("'7 b ' || CAST(doc_id AS VARCHAR)")} % (n+1) AS c2
         | FROM d),
         |s AS (SELECT doc_id, text, toks, n, applied,
         |  least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
         |SELECT doc_id, applied AS fim_applied,
         | CASE WHEN applied THEN array_to_string(
         |   ['<fim_prefix>'] || toks[1:CAST(lo AS INT)]
         |   || ['<fim_suffix>'] || toks[CAST(hi+1 AS INT):CAST(n AS INT)]
         |   || ['<fim_middle>'] || toks[CAST(lo+1 AS INT):CAST(hi AS INT)], ' ')
         |  ELSE text END AS fim_text,
         | CASE WHEN applied THEN lo END AS n_prefix,
         | CASE WHEN applied THEN hi - lo END AS n_middle,
         | CASE WHEN applied THEN n - hi END AS n_suffix
         |FROM s""".stripMargin
    },

    // Unigram drift census between the two doc_id-parity halves: top-30
    // drifted tokens by the EXACT TV numerator |c_a·N_b − c_b·N_a| in
    // DECIMAL(38,0) — double arithmetic would lose low bits at 100 TB
    // and make the ranking partitioning-dependent.
    Gate("q111_token_drift")((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.CorpusStats.tokenDrift(
          d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
          "text", k = 30)
        // ranking runs in DECIMAL(38,0) inside the operator; the gate
        // emits BIGINT (values fit at every test SF) because DECIMAL
        // materializes as decimal-object vs float64 across the two
        // engines' parquet/pandas paths — the q50 HUGEINT lesson
        .withColumn("drift_num", col("drift_num").cast("long"))
    }) {
      // Token drift: full-outer unigram join of the parity halves, exact
      // HUGEINT TV numerator cast to DECIMAL(38,0) (Spark's product type).
      s"""WITH ca AS (SELECT unnest(string_split(text,' ')) AS token
         |    FROM documents WHERE doc_id % 2 = 0),
         |cb AS (SELECT unnest(string_split(text,' ')) AS token
         |    FROM documents WHERE doc_id % 2 = 1),
         |ga AS (SELECT token, CAST(count(*) AS BIGINT) AS count_a
         |       FROM ca GROUP BY token),
         |gb AS (SELECT token, CAST(count(*) AS BIGINT) AS count_b
         |       FROM cb GROUP BY token),
         |j AS (SELECT coalesce(ga.token, gb.token) AS token,
         |    coalesce(count_a, 0) AS count_a, coalesce(count_b, 0) AS count_b
         |  FROM ga FULL OUTER JOIN gb ON ga.token = gb.token),
         |t AS (SELECT CAST((SELECT sum(count_a) FROM ga) AS BIGINT) AS total_a,
         |             CAST((SELECT sum(count_b) FROM gb) AS BIGINT) AS total_b)
         |SELECT token, count_a, count_b, total_a, total_b,
         | CAST(abs(CAST(count_a AS HUGEINT)*total_b
         |        - CAST(count_b AS HUGEINT)*total_a) AS BIGINT) AS drift_num
         |FROM j CROSS JOIN t
         |ORDER BY drift_num DESC, token ASC LIMIT 30""".stripMargin
    },

    // Corpus-TRAINED BPE tokenizer (Sennrich 2016 shape): the ordered
    // merge table, trained on the live word-frequency table — one corpus
    // aggregation + a vocabulary-bounded driver collect + deterministic
    // merge rounds (count desc, pair lexicographic ties). The DuckDB
    // oracle re-derives every round independently: unrolled
    // count-argmax-merge CTEs with the greedy left-to-right non-overlap
    // rule expressed as gaps-and-islands odd-rank selection.
    Gate("q130_bpe_merges")((s, dir) => {
      import s.implicits._
      val vocab = graft.functions.Subword.train(t(s, dir, "documents"),
        "text", numMerges = BpeMerges, maxWords = BpeMaxWords)
      vocab.merges.zipWithIndex.map { case ((a, b), i) =>
        (i + 1, a, b, a + b)
      }.toDF("rank", "a", "b", "merged")
    }) {
      // Corpus-trained BPE merge table, re-derived round by round.
      bpeMergesSql
    },

    // Gopher rule-based quality screen (Rae 2021 A1.1): per document,
    // all seven named rule flags plus the conjunction — drops are
    // attributable to a rule, unlike a blended score. Every threshold is
    // exact-integer arithmetic (10·symbols < words, never a float ratio)
    // so the flags are engine-independent at the boundary. Zero-shuffle
    // narrow projection; the same rules plug into CorpusPipeline's stage
    // funnel via Quality.gopherStages. The stop-word marker list is the
    // per-language knob localized to THIS corpus's vocabulary
    // (Text.Stopwords — only "the" from the canonical English list
    // occurs here; QualitySpec pins the canonical list on an English
    // fixture).
    Gate("q133_gopher_flags")((s, dir) => {
      val flags = graft.functions.Quality.gopherFlags(col("text"), Text.Stopwords)
      t(s, dir, "documents").select(
        col("doc_id") +:
          flags.map { case (n, c) => c.cast("int").as(n) } :+
          graft.functions.Quality.gopherKeep(col("text"), Text.Stopwords)
            .cast("int").as("kept"): _*)
    }) {
      // Gopher rule flags: identical exact-integer threshold arithmetic;
      // substring counts via the same replace-length trick. The CTE chain
      // is the shared gopherCtes fragment — the capstone oracle reuses it
      // over the train pool.
      s"""WITH ${gopherCtes("documents", "")}
         |SELECT doc_id,
         | CAST(f1 AS INT) AS r_word_count, CAST(f2 AS INT) AS r_word_len,
         | CAST(f3 AS INT) AS r_symbol_ratio, CAST(f4 AS INT) AS r_bullet_lines,
         | CAST(f5 AS INT) AS r_ellipsis_lines, CAST(f6 AS INT) AS r_alpha_words,
         | CAST(f7 AS INT) AS r_stop_words,
         | CAST($GopherKeptCond AS INT) AS kept
         |FROM gf""".stripMargin
    },

    // Gopher repetition screens (Rae 2021 A1.2): the full 13-metric
    // battery as exact-integer character masses — duplicate line /
    // paragraph fractions and char masses, top-{2,3,4}-gram char mass
    // (ties on count → largest mass), duplicated-{5..10}-gram coverage
    // (position mask: overlapping occurrences counted once). The n-gram
    // inner loop is ONE compiled pass per document per n
    // (expressions.NgramRepetition — hash-map count + mask, inside
    // whole-stage codegen); denominators ride along so `kept` is a pure
    // cross-multiplication at the canonical thresholds. Zero-shuffle
    // scan-speed projection, like q133.
    Gate("q134_repetition_screens")((s, dir) => {
      import graft.functions.Quality
      val txt = col("text")
      val (dl, tl, dlc, tlc) = Quality.dupSegmentStats(txt, "\n")
      val (dp, tp, dpc, tpc) = Quality.dupSegmentStats(txt, "\n\n")
      t(s, dir, "documents").select(
        Seq(col("doc_id"),
          dl.as("dup_lines"), tl.as("total_lines"),
          dlc.as("dup_line_chars"), tlc.as("total_line_chars"),
          dp.as("dup_paras"), tp.as("total_paras"),
          dpc.as("dup_para_chars"), tpc.as("total_para_chars"),
          Quality.topNgramChars(txt, 2).as("top2_chars"),
          Quality.topNgramChars(txt, 3).as("top3_chars"),
          Quality.topNgramChars(txt, 4).as("top4_chars")) ++
          (5 to 10).map(n => Quality.dupNgramChars(txt, n).as(s"dup${n}_chars")) ++
          Seq(Quality.nonSpaceChars(txt).as("total_chars"),
            Quality.repetitionKeep(txt).cast("int").as("kept")): _*)
    }) {
      // Repetition screens: the oracle rebuilds every metric from first
      // principles — window counts over an exploded (doc, n, shingle
      // position) grid, top n-gram via max-count-then-max-mass, coverage
      // via DISTINCT covered positions joined to token lengths (the mask
      // semantics), line/paragraph repeats via row_number > 1. The CTE
      // chain is the shared repetitionCtes fragment — the capstone oracle
      // reuses it over the train pool.
      s"""WITH ${repetitionCtes("documents", "")}
         |SELECT *, CAST($RepetitionKeptCond AS INT) AS kept
         |FROM wide""".stripMargin
    },

    // Corpus-scale subword ENCODE (completes the tokenizer pipeline:
    // q130 trains the merges, this gate applies them — the document's
    // full unit sequence, table words expanding to their compiled
    // segments, OOV words to per-character units, the same fallback q69
    // charges). Vocabulary trained from the q69 constants so the oracle
    // can inline the identical word→segments table. The segment table
    // rides the expression as a literal map (plan-embedded broadcast);
    // zero-shuffle scan-speed projection.
    Gate("q135_subword_encode")((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(graft.functions.Subword.unitsColumn(col("text"), SubwordGateVocab))
          .as(Seq("pos", "unit")))) {
      val values = SubwordGateVocab.wordSegments.toSeq.sortBy(_._1)
        .map { case (w, u) => s"('$w', '${u.mkString("|")}')" }.mkString(", ")
      s"""WITH v(word, segs) AS (VALUES $values),
         |tok AS (
         | SELECT doc_id, i, ws[i] AS word
         | FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
         |       FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents))),
         |seg AS (
         | SELECT tok.doc_id, tok.i,
         |  CASE WHEN v.segs IS NULL THEN string_split(tok.word, '')
         |       ELSE string_split(v.segs, '|') END AS units
         | FROM tok LEFT JOIN v ON tok.word = v.word),
         |u AS (SELECT doc_id, i, unnest(generate_series(1, len(units))) AS j, units FROM seg)
         |SELECT doc_id,
         | CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, j) - 1 AS INT) AS pos,
         | units[j] AS unit
         |FROM u""".stripMargin
    }
  )

  /** BPE training depth / candidate-vocabulary bound for the trained-
    * tokenizer gate (q130 and its oracle). 12 rounds stay well inside
    * this corpus's merge capacity at every SF; 10000 words covers the
    * whole vocabulary (31 distinct tokens), and the top-N cut is
    * deterministic on both engines anyway (occurrences desc, word asc). */
  private val BpeMerges = 12
  private val BpeMaxWords = 10000

  /** Constant word-frequency table for the subword-budget gate (q69). A
    * trained vocabulary is train-time STATE — not SQL-expressible — so
    * the gate trains from these constants (a pure function of literals)
    * and the oracle inlines the identical compiled word→units table.
    * Real pipelines train from `Subword.train(corpus…)`; the counting and
    * packing machinery under test is the same either way. */
  private val SubwordGateFreqs: Seq[(String, Long)] = Seq(
    "the" -> 100L, "and" -> 80L, "of" -> 70L, "to" -> 60L, "a" -> 55L,
    "data" -> 50L, "with" -> 45L, "model" -> 30L, "training" -> 25L,
    "pipeline" -> 20L, "document" -> 18L, "corpus" -> 15L, "tokens" -> 8L)
  private lazy val SubwordGateVocab: graft.functions.Subword.Vocab =
    graft.functions.Subword.trainFromFrequencies(SubwordGateFreqs, numMerges = 30)

  /** Deterministic multi-sentence message synthesized from customer
    * columns (the corpus documents carry no sentence punctuation, so the
    * sentence-chunking gate synthesizes its fixture like q53's
    * piiMessage): four sentences, the second with a custkey-dependent
    * length so chunk layouts vary per row. */
  private def sentenceMessage(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey"),
      concat(lit("customer "), col("c_name"), lit(" ranks high. segment "),
        lower(col("c_mktsegment")), lit(" moves "),
        trim(lit("very very very very ")
          .substr(lit(1), ((col("c_custkey") % 4 + 1) * 5).cast("int"))),
        lit(" fast! account "), col("c_custkey").cast("string"),
        lit(" closes. bye")).as("msg"))

  /** Deterministic HTML wrapper around each document (the q98 fixture —
    * corpus text is already markup-free): title/heading carry text the
    * stripper must KEEP, style/script/comment carry text it must DROP,
    * one entity-bearing paragraph exercises decode order, and doc_id%3
    * link repetitions vary the link census per row. Single-line on
    * purpose — the portable regexes run with DOTALL off. */
  private def markupDoc(docs: DataFrame): DataFrame = {
    val link = "<a href=\"https://example.com/x\">link</a>"
    docs.select(col("doc_id"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">p{margin:0}</style>"),
        lit("<script>var d="), col("doc_id").cast("string"),
        lit(";track(d);</script></head><body><!-- rendered -->"),
        lit("<h1 class=\"t\">Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>Tags &amp; entities: &lt;b&gt;&nbsp;&quot;q&quot; &#39;s&#39;</p>"),
        when(col("doc_id") % 3 === 1, lit(link))
          .when(col("doc_id") % 3 === 2, lit(link + link))
          .otherwise(lit("")),
        lit("</body></html>")
      ).as("html"))
  }

  /** Deterministic PII-bearing message synthesized from customer columns —
    * email always present, phone on 2/3 of rows, IP on 1/4 (concat_ws
    * skips the NULL branches on both engines). */
  private def piiMessage(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey"), col("c_nationkey"),
      concat_ws(" ",
        lit("user"), col("c_name"), lit("email"),
        concat(lower(col("c_mktsegment")), lit("."),
          col("c_custkey").cast("string"), lit("@corp.example")),
        when(col("c_custkey") % 3 =!= 0,
          concat(lit("phone 555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))),
        when(col("c_custkey") % 4 === 0,
          concat(lit("ip 10."), (col("c_custkey") % 223).cast("string"),
            lit("."), (col("c_nationkey") % 250).cast("string"),
            lit("."), ((col("c_custkey") * 7) % 250).cast("string")))
      ).as("msg"))

  /** q59's cleaning cascade (keep-predicates, first failure wins). The
    * ratio predicates are built with the exact association order the
    * oracle uses (int counts cast to double, one division). */
  private def funnelStages: Seq[(String, Column)] = {
    val ntok = Text.tokenCount(col("text"))
    Seq(
      "too_short" -> (col("n_chars") >= 120),
      "too_few_tokens" -> (ntok >= 25),
      "low_stopword" -> (Text.stopwordRatio(col("text")) > 0.02),
      "high_repetition" -> (size(Text.shingleSet(col("text"), 3)).cast("double") /
        (ntok - 2).cast("double") >= 0.97))
  }

  /** Scalar language-id CASE over [[docQualityBaseSql]] columns. */
  private lazy val docLangSql =
    """CASE WHEN fr_hits > en_hits AND fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
      |     WHEN es_hits > en_hits AND es_hits >= de_hits THEN 'es'
      |     WHEN de_hits > en_hits THEN 'de'
      |     ELSE 'en' END""".stripMargin

  private lazy val bpeMergesSql: String = {
    val rounds = (1 to BpeMerges).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (SELECT s[i] AS a, s[i+1] AS b, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT syms AS s, f, unnest(range(1, len(syms))) AS i FROM $prev)
         |  GROUP BY s[i], s[i+1]),
         |b$r AS MATERIALIZED (SELECT a, b FROM p$r ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |u$r AS (SELECT word, f, i, s[i] AS sym,
         |  CASE WHEN i < len(s) AND s[i] = (SELECT a FROM b$r)
         |        AND s[i+1] = (SELECT b FROM b$r) THEN 1 ELSE 0 END AS m
         |  FROM (SELECT word, f, syms AS s,
         |        unnest(range(1, len(syms)+1)) AS i FROM $prev)),
         |k$r AS (SELECT word, f, i, sym, m,
         |  CASE WHEN m = 1 THEN row_number() OVER (PARTITION BY word, grp ORDER BY i)
         |       ELSE 0 END AS rk
         |  FROM (SELECT *, CASE WHEN m = 1
         |          THEN i - row_number() OVER (PARTITION BY word, m ORDER BY i)
         |          ELSE NULL END AS grp FROM u$r)),
         |v$r AS (SELECT word, f, i, sym, keep,
         |  COALESCE(lag(keep) OVER (PARTITION BY word ORDER BY i), false) AS consumed
         |  FROM (SELECT word, f, i, sym, (m = 1 AND rk % 2 = 1) AS keep FROM k$r)),
         |w$r AS MATERIALIZED (SELECT word, f,
         |  list(CASE WHEN keep THEN (SELECT a FROM b$r) || (SELECT b FROM b$r)
         |       ELSE sym END ORDER BY i) AS syms
         |  FROM v$r WHERE NOT consumed GROUP BY word, f)""".stripMargin
    }.mkString(",\n")
    val table = (1 to BpeMerges).map(r =>
      s"SELECT CAST($r AS INTEGER) AS rank, a, b, a || b AS merged FROM b$r")
      .mkString("\n UNION ALL ")
    s"""WITH wf AS MATERIALIZED (SELECT token AS word, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
       |  WHERE token <> '' GROUP BY token
       |  ORDER BY f DESC, word ASC LIMIT $BpeMaxWords),
       |w0 AS MATERIALIZED (SELECT word, f,
       |  list_transform(range(1, len(word)+1),
       |    j -> substr(word, CAST(j AS INTEGER), 1)) AS syms FROM wf),
       |$rounds
       |$table""".stripMargin
  }
}

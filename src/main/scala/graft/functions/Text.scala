package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis functions for large-scale corpus processing (training-data
 * pipeline extensions): tokenization, shingling, quality scoring, language
 * heuristics, fingerprinting. All pure Column expressions — distributed,
 * codegen'd, no driver-side loops.
 */
object Text {

  /** Whitespace tokenization. `split` on a single-space regex matches the
    * corpus contract (single-spaced text); DuckDB `string_split(text, ' ')`
    * has identical semantics including empty tokens on repeated spaces. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * Canonical form for dedup: lowercase, non-alphanumerics → space,
   * whitespace collapsed, trimmed — so case/punctuation/spacing variants
   * of the same content hash identically (the first normalization every
   * production dedup pipeline applies before exact or near dedup).
   * Restricted to patterns whose semantics are identical across regex
   * engines (character classes and ' +' — no lookaround, no shorthand
   * classes), so the result is verifiable in external SQL.
   */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Count of exact token matches (e.g. stopwords). */
  def tokenOccurrences(text: Column, word: String): Column =
    size(filter(tokens(text), t => t === word))

  /**
   * BPE-style pre-tokenizer count: letter runs, digit runs, and individual
   * punctuation marks each count as one token — the GPT-2 pre-tokenization
   * shape, which is what LLM cost/length accounting needs (whitespace
   * counting undercounts structured text: "555-0042" is one whitespace
   * token but three BPE-ish ones). The alternatives are disjoint character
   * classes, so leftmost-first vs leftmost-longest regex engines agree.
   */
  val BpeishTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishTokenPattern), lit(0))).cast("long")

  /** Word n-gram shingles: ["a","b","c","d"], n=3 → ["a b c","b c d"].
    * Empty array when the document has fewer than n tokens. Native codegen
    * single-pass implementation (graft.expressions.WordShingles) — the
    * declarative transform+slice chain is interpreted and O(tokens²). */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.WordShingles.column(text, n)

  /** Distinct shingle set (the unit of Jaccard similarity). */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  /** Mean token length implied by single-space joining:
    * (chars − (n−1)) / n, exact double division. */
  def avgTokenLength(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    (length(text).cast("double") - (n - 1.0)) / n
  }

  /** Stopword ratio over a fixed marker list. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  def stopwordRatio(text: Column): Column = {
    val sw = Stopwords.map(w => tokenOccurrences(text, w)).reduce(_ + _)
    sw.cast("double") / tokenCount(text).cast("double")
  }

  /**
   * Document quality score in [0,100]: weighted blend of length band,
   * stopword presence, and mean token length band — the shape of the
   * reference's data_quality_score (share-of-checks-passed × 100,
   * glue_weather_etl.py:423-430) applied to text-corpus checks.
   */
  def docQualityScore(text: Column): Column = {
    val lenOk = length(text).between(50, 5000)
    val swOk = stopwordRatio(text) > 0.01
    val tokOk = avgTokenLength(text).between(2.0, 12.0)
    Enrich.qualityScore(lenOk, swOk, tokOk)
  }

  /**
   * N-gram/stopword language-ID heuristic. Scores each candidate language by
   * marker-token hits and picks the best (first-match on the CASE chain keeps
   * it deterministic). Real corpora would use character-trigram profiles —
   * the operator shape (pure-expression scoring, no shuffle) is the point.
   */
  def langIdHeuristic(text: Column): Column = {
    def hits(words: Seq[String]): Column =
      words.map(w => tokenOccurrences(text, w)).reduce(_ + _)
    val en = hits(Seq("the", "a", "of"))
    val fr = hits(Seq("le", "la", "et"))
    val es = hits(Seq("el", "los", "y"))
    val de = hits(Seq("der", "die", "und"))
    when(fr > en && fr >= es && fr >= de, "fr")
      .when(es > en && es >= de, "es")
      .when(de > en, "de")
      .otherwise("en")
  }

  /**
   * PII scrubbing for training corpora. Patterns restricted to syntax with
   * identical semantics in Java regex and RE2-style engines (character
   * classes + bounded quantifiers — no shorthand classes, no lookaround),
   * so redaction is verifiable in external SQL. Replacement order is part
   * of the contract (emails first — their local part would otherwise be
   * partially eaten by the number patterns; then IPs, whose dotted runs
   * must be gone before the bare phone pattern scans).
   *
   * Best-effort by design, with exact charset limits: emails are
   * RFC-5322-common ([A-Za-z0-9._%+-] local, [A-Za-z0-9.-] domain — mixed
   * case included; quoted locals and IDN domains are not), IPs are dotted
   * quads without range validation, phones are NNN-NNNN shapes only. A
   * production scrubber would layer NER on top; the regex tier is the
   * zero-shuffle screen that must never miss the common shapes.
   */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val IpPattern: String = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhonePattern: String = "[0-9]{3}-[0-9]{4}"

  /** Redact emails → [EMAIL], IPv4s → [IP], phone-shaped numbers →
    * [PHONE]. Pure narrow projection — at 100 TB this is a zero-shuffle
    * map over the corpus, exactly as cheap as reading it. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        IpPattern, "[IP]"),
      PhonePattern, "[PHONE]")

  /** Occurrences of one PII pattern (audit counterpart of redactPii). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /**
   * HTML/markup → text extraction, the first cleaner a crawled corpus
   * meets (the reference ingests clean JSON; crawl-scale corpora arrive
   * as markup). Pipeline, in order: drop <script>/<style> blocks WITH
   * their contents and <!-- comments -->, strip remaining tags to a
   * space, decode the six ubiquitous entities (&amp; LAST, so literal
   * "&amp;lt;" decodes to "&lt;" — the HTML rule, and the order that
   * cannot double-decode), collapse whitespace, trim. Every pattern is
   * deliberately backreference-free and lazy-quantifier-only so the SAME
   * regexes run under Java regex (Spark) and RE2 (DuckDB oracle) —
   * engine-portable by construction. Zero-shuffle narrow projection; at
   * 100 TB this runs at scan speed like [[redactPii]].
   */
  def stripMarkup(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, "(?i)<script[^>]*>.*?</script>", " "),
        "(?i)<style[^>]*>.*?</style>", " "),
      "<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Anchor-tag count in raw markup (exact, via replace-length arithmetic
    * — identical integer semantics in every engine; the audit column a
    * link-density quality filter consumes). */
  def linkCount(html: Column): Column =
    ((length(html) - length(replace(html, lit("<a "), lit("")))) / 3L).cast("long")

  /**
   * Order-sensitive document fingerprint: left fold over tokens of
   * acc*31 + stableHash60(token) reduced mod 1e9+7 each step (keeps every
   * intermediate < 2^62 — no overflow in either Spark or DuckDB BIGINT).
   * Two documents share a fingerprint iff their token streams are identical.
   */
  val FingerprintMod: Long = 1000000007L

  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => (acc * 31L + Hashing.stableHash60(t) % FingerprintMod) % FingerprintMod
    )
}

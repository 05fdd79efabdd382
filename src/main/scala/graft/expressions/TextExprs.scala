package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native word-n-gram shingling. The declarative version
 * (transform(sequence) + slice + concat_ws) is a higher-order expression —
 * interpreted per element and O(tokens²) per document because each slice
 * re-walks the token array; it dominated the n-gram dedup queries. This
 * expression makes one pass per document in compiled code, while keeping
 * EXACTLY the declarative semantics (split on single space keeping empty
 * tokens, shingle = n consecutive tokens joined by one space, empty array
 * when fewer than n tokens) so the external SQL oracle still matches.
 *
 * Codegen emits a call to the static [[WordShingles.compute]] — the loop
 * runs in compiled Scala and the expression stays inside whole-stage
 * codegen (no CodegenFallback for the surrounding plan).
 */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, "shingle size must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WordShingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Native per-document n-gram repetition statistics — the inner loop of the
 * Gopher repetition screens (Rae 2021 A1.2). Returns `[top_chars,
 * dup_covered_chars]`:
 *
 *  - `top_chars`: occurrences × token-character mass of the most frequent
 *    word n-gram (ties on count break to the LARGEST mass — deterministic,
 *    and the conservative screen; public reimplementations inherit hash
 *    order here). A count-1 "most common" n-gram still contributes its own
 *    mass, matching the public filters.
 *  - `dup_covered_chars`: token-character mass of positions covered by at
 *    least one n-gram occurring ≥ 2 times in the document, overlapping
 *    occurrences counted ONCE (position mask, not count × length).
 *
 * Character mass is token characters only (spaces excluded) — the same
 * units as `length(replace(text, ' ', ''))`, the denominator the rule
 * thresholds divide by. Tokenization is the engine-wide split-on-single-
 * space contract. One hash-map pass per document in compiled code via the
 * static [[NgramRepetition.compute]]; the expression stays inside
 * whole-stage codegen.
 */
case class NgramRepetition(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, "n-gram size must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ngram_repetition"

  override def nullSafeEval(input: Any): Any =
    NgramRepetition.compute(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramRepetition.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramRepetition {
  /** One-pass counting + position-mask coverage; called from generated
    * code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    val m = tokens.length
    if (m < n) return new GenericArrayData(Array[Any](0L, 0L))
    val cnt = m - n + 1
    val lens = new Array[Int](m)
    var j = 0
    while (j < m) { lens(j) = tokens(j).length; j += 1 }

    // count occurrences per n-gram key (single-space join, the shingle
    // string contract) and remember each position's key + token mass
    val counts = new java.util.HashMap[String, Int](cnt * 2)
    val keys = new Array[String](cnt)
    val mass = new Array[Long](cnt)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var w = 0L
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(i + k))
        w += lens(i + k)
        k += 1
      }
      val key = sb.toString
      keys(i) = key
      mass(i) = w
      counts.put(key, counts.getOrDefault(key, 0) + 1)
      i += 1
    }

    // most frequent n-gram: max count, ties to max mass
    var maxCount = 0
    var topMass = 0L
    i = 0
    while (i < cnt) {
      val c: Int = counts.get(keys(i))
      if (c > maxCount || (c == maxCount && mass(i) > topMass)) {
        maxCount = c; topMass = mass(i)
      }
      i += 1
    }
    val topChars = maxCount.toLong * topMass

    // duplicated-n-gram coverage mask over token positions
    val covered = new Array[Boolean](m)
    i = 0
    while (i < cnt) {
      if (counts.get(keys(i)) >= 2) {
        var p = i
        val end = i + n
        while (p < end) { covered(p) = true; p += 1 }
      }
      i += 1
    }
    var dupChars = 0L
    j = 0
    while (j < m) { if (covered(j)) dupChars += lens(j); j += 1 }

    new GenericArrayData(Array[Any](topChars, dupChars))
  }

  def column(text: Column, n: Int): Column =
    GraftSqlBridge.column(NgramRepetition(GraftSqlBridge.expression(text), n))
}

object WordShingles {
  /** One-pass shingle construction; called from generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    // split on single space, keeping empty tokens (Spark split(text, " ")
    // semantics with limit -1)
    val s = text.toString
    val tokens = s.split(" ", -1)
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])
    val count = tokens.length - n + 1
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def column(text: Column, n: Int): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(text), n))
}

/**
 * Native winnowed-fingerprint selection (Schleimer/Wilkerson/Aiken 2003
 * robust winnowing) — ONE compiled pass per document (round 12, guide
 * §2.4): returns the document's distinct selected fingerprints as
 * `array<struct<pos: long, h: long>>`, where `h` is the portable
 * [[StableHash60]] of the k-token span starting at token position `pos`.
 *
 * Replaces the window-function shape (posexplode the span stream →
 * Exchange on id → Sort by (id, pos) → sliding min → distinct), whose
 * exchanges existed only to group a document's OWN spans back together:
 * the selection is a pure per-document function, so the corpus never
 * shuffles to fingerprint. Semantics are identical by construction —
 * window [p, p+w−1] over the positional span-hash stream, valid starts
 * p ≤ max(m−w, 0) (short documents winnow their whole stream as one
 * truncated window), selection = (smallest hash, ties to the RIGHTMOST
 * position), each selected position recorded once. The sliding min runs
 * as a monotonic deque — O(m) per document, not O(m·w).
 *
 * Distinctness note: re-selection of a position after a gap is
 * impossible (if x is selected at windows p1 < p3 but beaten at
 * p1 < p2 < p3, the beater b ≥ p2 lies in window p1 too and beats x
 * there — contradiction), so selections form runs and skipping
 * consecutive repeats yields exactly the distinct set.
 */
case class WinnowedSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, "span size must be >= 1")
  require(w >= 1, "winnow window must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_winnowed_fingerprints"

  override def nullSafeEval(input: Any): Any =
    WinnowedSelect.compute(input.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.WinnowedSelect.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowedSelect {
  /** One-pass winnowing; called from generated code. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val spans = WordShingles.compute(text, k)
    val m = spans.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      hs(i) = StableHash60.computeUtf8(spans.getUTF8String(i))
      i += 1
    }
    val maxStart = math.max(m - w, 0)
    // monotonic deque of span indices: hashes strictly increasing from the
    // front; equal hashes keep the LATER index (the rightmost-min rule)
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    def push(idx: Int): Unit = {
      while (tail > head && hs(dq(tail - 1)) >= hs(idx)) tail -= 1
      dq(tail) = idx
      tail += 1
    }
    val outPos = new Array[Int](maxStart + 1)
    var nOut = 0
    var lastSel = -1
    val fill = math.min(w - 1, m - 1)
    i = 0
    while (i <= fill) { push(i); i += 1 }
    var p = 0
    while (p <= maxStart) {
      if (p > 0) push(p + w - 1) // p <= m-w here, so the end index is < m
      while (dq(head) < p) head += 1
      val sel = dq(head)
      if (sel != lastSel) { outPos(nOut) = sel; nOut += 1; lastSel = sel }
      p += 1
    }
    val rows = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](outPos(i).toLong, hs(outPos(i))))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def column(text: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowedSelect(GraftSqlBridge.expression(text), k, w))
}

/**
 * Native T5-style span corruption — ONE compiled pass per document
 * (round 12, guide §2.4): seeded per-token mask draws, consecutive
 * masked tokens merged into one sentinel span, returns
 * `struct<input_text, target_text, n_masked: long, n_spans: long>`.
 *
 * Replaces the window-function shape (posexplode the token stream →
 * Exchange on id → Sort → lag/run-id windows → TWO groupBy(id)
 * collect_list aggregations → join), whose exchanges existed only to
 * regroup each document's own tokens: the transform is a pure
 * per-document function of (text, id), so the corpus never shuffles to
 * corrupt. Bit-identical by construction: the mask draw is
 * stableHash60("<seed> m <id> <pos>") % 100 < noisePct — the exact
 * string the Column shape hashed — and the in-order rebuild reproduces
 * array_join's separator rule (a space BETWEEN collected tokens, empty
 * tokens keeping their separators). TrainingOpsSpec pins losslessness,
 * partitioning independence and the no-mask degenerate row;
 * StatefulOpsSpec pins the streaming parity.
 */
case class SpanCorrupt(text: Expression, idStr: Expression,
                       noisePct: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  require(noisePct > 0 && noisePct < 100, "noisePct must be in (0,100)")

  override def left: Expression = text
  override def right: Expression = idStr
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("input_text", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("target_text", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_masked",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_spans",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_span_corrupt"

  override def nullSafeEval(t: Any, id: Any): Any =
    SpanCorrupt.compute(t.asInstanceOf[UTF8String],
      id.asInstanceOf[UTF8String], noisePct, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, id) =>
      s"graft.expressions.SpanCorrupt.compute($t, $id, $noisePct, ${seed}L)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, idStr = newRight)
}

object SpanCorrupt {
  /** One-pass corruption; called from generated code, so it returns
    * `InternalRow`, the Java type janino assigns the struct result to
    * (an `Any` result fails to compile and the stage runs interpreted). */
  def compute(text: UTF8String, id: UTF8String,
              noisePct: Int, seed: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(" ", -1)
    val prefix = seed.toString + " m " + id.toString + " "
    val in = new java.lang.StringBuilder
    val tgt = new java.lang.StringBuilder
    var inFirst = true
    var tgtFirst = true
    def appendIn(s: String): Unit = {
      if (!inFirst) in.append(' ')
      in.append(s); inFirst = false
    }
    var runId = 0L
    var nMasked = 0L
    var prevMasked = false
    var i = 0
    while (i < toks.length) {
      val draw = StableHash60.computeBytes(
        (prefix + i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val masked = draw % 100 < noisePct
      if (masked) {
        nMasked += 1
        if (!prevMasked) {
          runId += 1
          appendIn("<extra_id_" + (runId - 1) + ">")
          if (!tgtFirst) tgt.append(' ')
          tgt.append("<extra_id_").append(runId - 1).append("> ").append(toks(i))
          tgtFirst = false
        } else {
          tgt.append(' ').append(toks(i))
        }
      } else {
        appendIn(toks(i))
      }
      prevMasked = masked
      i += 1
    }
    val target =
      if (nMasked == 0L) "<extra_id_0>"
      else tgt.append(" <extra_id_").append(runId).append('>').toString
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(in.toString), UTF8String.fromString(target),
      nMasked, runId))
  }

  def column(text: Column, idStr: Column, noisePct: Int, seed: Long): Column =
    GraftSqlBridge.column(SpanCorrupt(GraftSqlBridge.expression(text),
      GraftSqlBridge.expression(idStr), noisePct, seed))
}

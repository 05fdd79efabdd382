package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native Catalyst expressions for embedding math.
 *
 * The declarative versions in graft.functions.Vec (zip_with + aggregate)
 * are semantically right but Spark's higher-order functions are
 * CodegenFallback — every element goes through an interpreted lambda, which
 * made the 12.5M-pair near-dup scan at sf0.1 take ~90 s. These expressions
 * generate a tight Java loop inside whole-stage codegen instead (~30×
 * faster), with IDENTICAL numeric semantics: elements cast float→double,
 * each accumulator folded strictly left-to-right, cosine = dot /
 * (sqrt(na) * sqrt(nb)) — so results stay bit-equal to both Vec.cosine and
 * the external SQL oracle's list_reduce twin.
 *
 * Mismatched lengths return null (zip_with pads with null, which the
 * declarative fold propagates to null — we mirror that contract).
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local must be fresh — this expression can appear many times in
      // one generated class (janino rejects redefinition)
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      val (n, i, xi, yi) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("xi"), ctx.freshName("yi"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product with the same codegen/precision contract as CosineSimilarity. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var dot = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (dot, n, i) = (ctx.freshName("dot"), ctx.freshName("n"), ctx.freshName("i"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Dot product of a float-array column against a double-array (typically a
 * literal hyperplane): Σ (double)x_i * c_i folded strictly left-to-right —
 * bit-equal to the unrolled `element_at(v,i).cast(double) * lit(c_i)` sum
 * it replaces, but ONE expression node instead of dim·bits of them (the
 * unrolled RP-LSH tree was ~1024 nodes whose codegen dominated the query).
 */
case class DotProductFD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot_fd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var dot = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (dot, n, i) = (ctx.freshName("dot"), ctx.freshName("n"), ctx.freshName("i"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Squared euclidean distance Σ (x_i − y_i)², same codegen/precision contract
 * as the siblings: float→double per element, strict left-to-right fold — so
 * the external SQL twin `list_reduce(list_transform(list_zip(a,b),
 * z -> (z[1]-z[2])*(z[1]-z[2])), (x,y) -> x+y)` is bit-equal. Used by the
 * product-quantization subspace assignment (PQ codebooks are trained and
 * probed in L2, the standard metric for PQ residual energy).
 */
case class L2SqDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (acc, n, i, d) =
        (ctx.freshName("acc"), ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Column API for the codegen cosine (drop-in for Vec.cosine on float arrays). */
  def cosine(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** float-array ⋅ double-array (for literal hyperplanes). */
  def dotFD(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductFD(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Squared L2 distance between two float arrays (PQ subspace metric). */
  def l2sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2SqDistance(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/**
 * Nearest eval vector by cosine — ONE compiled pass per (train row ×
 * broadcast eval array), round 12. Replaces the higher-order-function
 * chain in `Similarity.semanticContamination` (`transform` to a score
 * struct array → `array_max` → `filter` by equality → `array_min`):
 * HOFs are interpreted per element AND push the whole projection out of
 * whole-stage codegen, so the screen paid object allocation per
 * (train, eval) pair. Returns `struct<eval_id, cos>`, both fields null
 * when no eval vector yields a score (empty eval set, or every
 * dimension mismatched — the zip_with-null contract).
 *
 * Semantics are the HOF chain's exactly: cosine per element with
 * [[CosineSimilarity]]'s fold (null on length mismatch, skipped like
 * array_max skips nulls); max under Spark's double ordering
 * (0.0 == −0.0, NaN greatest); ties resolved to the smallest eval id
 * under Spark's float equality (NaN == NaN true); null eval ids
 * skipped like array_min skips nulls. SimilaritySpec pins the
 * brute-force equality, smallest-id ties, the cosine-1 duplicate and
 * the empty-eval pass-through.
 */
case class NearestEval(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(FloatType),
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("emb", ArrayType(FloatType))))))
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("eval_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("cos", DoubleType, nullable = true)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_eval"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestEval.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.NearestEval.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestEval {
  /** Spark's double comparison (SQLOrderingUtil): 0.0 == −0.0, NaN
    * greater than everything. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** One-pass arg-max; called from generated code, so it returns
    * `InternalRow` (see [[SpanCorrupt.compute]]). */
  def compute(emb: ArrayData, evals: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = evals.numElements()
    val m = emb.numElements()
    val cos = new Array[Double](n)
    val miss = new Array[Boolean](n)
    var best = 0.0
    var hasBest = false
    var i = 0
    while (i < n) {
      val e = evals.getStruct(i, 2)
      val v = e.getArray(1)
      if (v.numElements() != m) miss(i) = true
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < m) {
          val x = emb.getFloat(j).toDouble
          val y = v.getFloat(j).toDouble
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        val c = dot / (math.sqrt(na) * math.sqrt(nb))
        cos(i) = c
        if (!hasBest || cmp(c, best) > 0) { best = c; hasBest = true }
      }
      i += 1
    }
    if (!hasBest)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, null))
    var minId = 0L
    var found = false
    i = 0
    while (i < n) {
      if (!miss(i)) {
        // Spark float equality: NaN == NaN is true
        val eq = (java.lang.Double.isNaN(cos(i)) &&
          java.lang.Double.isNaN(best)) || cos(i) == best
        if (eq) {
          val e = evals.getStruct(i, 2)
          if (!e.isNullAt(0)) { // array_min skips null ids
            val id = e.getLong(0)
            if (!found || id < minId) { minId = id; found = true }
          }
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (found) minId else null, best))
  }

  def column(emb: Column, evals: Column): Column =
    GraftSqlBridge.column(NearestEval(
      GraftSqlBridge.expression(emb), GraftSqlBridge.expression(evals)))
}

/**
 * Top-k nearest centroids by cosine over a broadcast one-row centroid
 * array — ONE compiled pass per vector row (round 12). Replaces the
 * assignment join shape (vectors × |centroids| BroadcastNestedLoopJoin
 * rows → per-vector aggregate): the n·k intermediate rows and the
 * vec_id exchange existed only to undo the enumeration, while the
 * choice is a pure per-row function of (embedding, centroid array).
 *
 * Returns the centroid ids in rank order, length min(k, #centroids);
 * `sparkTies` selects the tie semantics of the aggregate each branch
 * replaces, preserved exactly:
 *  - `true` (the nprobe=1 `max_by(cid, struct(ccos, −cid))` contract):
 *    Spark struct ordering — cosine compared with 0.0 == −0.0 and NaN
 *    greatest (a NaN cosine WINS), ties → smallest id.
 *  - `false` (the nprobe>1 `BoundedTopKAgg(−ccos, cid)` contract):
 *    Scala total ordering on the NEGATED cosine — −0.0 < 0.0 distinct,
 *    NaN keys rank LAST, ties → smallest id.
 * Centroids whose vector length mismatches are skipped (the join shape
 * produced a null cosine there, which both aggregates rank behind every
 * real score).
 */
case class TopCentroids(emb: Expression, cents: Expression,
                        k: Int, sparkTies: Boolean)
    extends BinaryExpression with ExpectsInputTypes {

  require(k >= 1, "k must be >= 1")

  override def left: Expression = emb
  override def right: Expression = cents
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(FloatType),
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cv", ArrayType(FloatType))))))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_top_centroids"

  override def nullSafeEval(a: Any, b: Any): Any =
    TopCentroids.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      k, sparkTies)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.TopCentroids.compute($a, $b, $k, $sparkTies)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(emb = newLeft, cents = newRight)
}

object TopCentroids {
  /** One-pass ranking; called from generated code. */
  def compute(emb: ArrayData, cents: ArrayData, k: Int,
              sparkTies: Boolean): ArrayData = {
    val n = cents.numElements()
    val m = emb.numElements()
    val cos = new Array[Double](n)
    val ids = new Array[Long](n)
    var valid = 0
    var i = 0
    while (i < n) {
      val c = cents.getStruct(i, 2)
      val v = c.getArray(1)
      if (v.numElements() == m) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < m) {
          val x = emb.getFloat(j).toDouble
          val y = v.getFloat(j).toDouble
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        cos(valid) = dot / (math.sqrt(na) * math.sqrt(nb))
        ids(valid) = c.getLong(0)
        valid += 1
      }
      i += 1
    }
    if (valid == 0)
      return new GenericArrayData(Array.empty[Long])
    if (k == 1) {
      // argmax scan under the branch's ordering
      var bi = 0
      i = 1
      while (i < valid) {
        val c = cmp(cos(i), cos(bi), sparkTies)
        if (c > 0 || (c == 0 && ids(i) < ids(bi))) bi = i
        i += 1
      }
      return new GenericArrayData(Array(ids(bi)))
    }
    // rank by (better cosine first, then smaller id); insertion sort on the
    // index array — centroid lists are small by construction
    val ord = Array.tabulate(valid)(identity)
    i = 1
    while (i < valid) {
      val x = ord(i)
      var j = i - 1
      while (j >= 0 && {
        val c = cmp(cos(x), cos(ord(j)), sparkTies)
        c > 0 || (c == 0 && ids(x) < ids(ord(j)))
      }) { ord(j + 1) = ord(j); j -= 1 }
      ord(j + 1) = x
      i += 1
    }
    val out = new Array[Long](math.min(k, valid))
    i = 0
    while (i < out.length) { out(i) = ids(ord(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** "c1 ranks before c2" comparison on raw cosines, per branch contract:
    * sparkTies — Spark double ordering on the cosine (±0.0 equal, NaN
    * greatest = selected first); total ordering — Scala/Java ordering on
    * the NEGATED cosine (−0.0 < 0.0 distinct, NaN last). Returns >0 when
    * c1 is strictly better, 0 on exact tie. */
  private def cmp(c1: Double, c2: Double, sparkTies: Boolean): Int =
    if (sparkTies) { if (c1 == c2) 0 else java.lang.Double.compare(c1, c2) }
    else java.lang.Double.compare(-c2, -c1)

  def column(emb: Column, cents: Column, k: Int, sparkTies: Boolean): Column =
    GraftSqlBridge.column(TopCentroids(GraftSqlBridge.expression(emb),
      GraftSqlBridge.expression(cents), k, sparkTies))
}

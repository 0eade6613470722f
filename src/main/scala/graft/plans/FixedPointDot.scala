package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Divide, EvalMode, Expression, Literal,
  TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField,
  StructType}

/** Native codegen'd fixed-point dot product over two numeric arrays
  * (each side independently array&lt;float&gt; or array&lt;double&gt;).
  *
  * Semantics are EXACTLY the Vec.dot higher-order-function formulation —
  * Σ floor((double)a(i) * (double)b(i) * 1e13) as a long — but compiled
  * into a primitive loop inside WholeStageCodegen instead of interpreted
  * per-element lambda dispatch (ArrayTransform/ArrayAggregate do not
  * codegen). ~10-50× less per-pair overhead in ANN scoring loops while
  * remaining bit-identical to the oracle-checked path.
  *
  * Fixed-dimension contract: both arrays must have the same length.
  * A length mismatch raises (matching the zip_with formulation, which
  * null-pads and nulls the aggregate — silently truncating to the
  * shorter array would diverge from it).
  */
case class FixedPointDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_fixed expects (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot_fixed"

  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) {
      throw new IllegalArgumentException(
        s"vec_dot_fixed: array length mismatch ($n vs ${y.numElements()})")
    }
    val (ld, rd) = (isDouble(left), isDouble(right))
    var acc = 0L
    var i = 0
    while (i < n) {
      val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      acc += math.floor(xv * yv * 1e13).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getX = if (isDouble(left)) s"$x.getDouble($i)" else s"(double) $x.getFloat($i)"
      val getY = if (isDouble(right)) s"$y.getDouble($i)" else s"(double) $y.getFloat($i)"
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot_fixed: array length mismatch (" + $n + " vs " + $y.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor($getX * $getY * 1e13);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd EXACT dot product over two long arrays: Σ a(i)·b(i)
  * as a long — the integer-vector twin of [[FixedPointDot]] for the
  * feature-hashed embeddings (q282/q283), whose elements are exact
  * BIGINT counts already (no fixed-point scaling involved, so the value
  * equals the sparse SUM(a.val*b.val) formulation bit for bit). Same
  * fixed-dimension contract as vec_dot_fixed; same motivation — the
  * interpreted zip_with/aggregate lambda pair costs ~10× more per pair
  * in the 5M-candidate verify loop (measured on q283 at sf0.1). */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_long expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) {
      throw new IllegalArgumentException(
        s"vec_dot_long: array length mismatch ($n vs ${y.numElements()})")
    }
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot_long: array length mismatch (" + $n + " vs " + $y.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getLong($i) * $y.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native nearest-centroid ranking:
  * `vec_nearest_cells(embedding, n2, cents, k)` is the ids of the k
  * centroids nearest `embedding` by cosine, best first, ties to the
  * lowest `cent_id`. `cents` is the packed centroid table, one
  * `array<struct<cent_id: bigint, ce: array<double>, cn2: double>>`
  * value broadcast to every row (cn2 = ce's own fixed-point norm), and
  * each cosine is computed exactly as the SQL
  * `CAST(vec_dot_fixed(embedding, ce) AS DOUBLE) / (sqrt(n2) * sqrt(cn2))`
  * computes it, so cells and ranks are bit-identical to the
  * `aggregate(transform(...))` argmax and the queries×centroids
  * `row_number()` window this replaces — one loop per row instead of
  * an interpreted lambda per centroid.
  *
  * Edge inputs, as the SQL formulation treats them:
  *  - a NULL embedding, n2 or `cents` gives NULL;
  *  - NULL embedding elements read as `vec_dot_fixed` reads them;
  *  - a zero divisor (a zero-norm vector or centroid) raises
  *    DIVIDE_BY_ZERO under ANSI mode; without ANSI that cosine is
  *    NULL, and a NULL cosine (or a NULL centroid field) ranks nowhere;
  *  - cosines order as Spark orders doubles (NaN above everything);
  *  - fewer than k scored centroids give a shorter array, none an
  *    empty one.
  * Where the two references disagreed, on inputs no caller produces,
  * this follows the fold for NULL cosines (the window ranked them
  * last) and the window for cosines ≤ −1e9, which only fixed-point
  * overflow reaches (the fold's seed value skipped them).
  * `k` is a literal ≥ 1, validated at registration. */
case class NearestCells(embedding: Expression, n2: Expression, cents: Expression, k: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = embedding
  override def second: Expression = n2
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (embedding.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }) && n2.dataType == DoubleType && (cents.dataType match {
      case ArrayType(StructType(Array(StructField("cent_id", LongType, _, _),
          StructField("ce", ArrayType(DoubleType, _), _, _), StructField("cn2", DoubleType, _, _))), _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_nearest_cells expects (array<float|double>, double, " +
        "array<struct<cent_id:bigint, ce:array<double>, cn2:double>>), got " +
        Seq(embedding, n2, cents).map(_.dataType.simpleString).mkString("(", ", ", ")"))
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_nearest_cells"

  @transient private lazy val xDouble = embedding.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cs = c.asInstanceOf[ArrayData]
    val d = x.numElements()
    val xv = new Array[Double](d)
    var i = 0
    while (i < d) {
      xv(i) = if (xDouble) x.getDouble(i) else x.getFloat(i).toDouble
      i += 1
    }
    val qn = math.sqrt(b.asInstanceOf[Double])
    val cap = math.min(k, cs.numElements())
    val ids = new Array[Long](cap)
    val scores = new Array[Double](cap)
    var filled = 0
    var j = 0
    while (j < cs.numElements()) {
      val s = if (cs.isNullAt(j)) null else cs.getStruct(j, 3)
      if (s != null && !s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2)) {
        val ce = s.getArray(1)
        if (ce.numElements() != d) {
          throw new IllegalArgumentException(
            s"vec_nearest_cells: array length mismatch ($d vs ${ce.numElements()})")
        }
        var acc = 0L
        i = 0
        while (i < d) {
          acc += math.floor(xv(i) * ce.getDouble(i) * 1e13).toLong
          i += 1
        }
        val div = qn * math.sqrt(s.getDouble(2))
        // Spark's own ANSI divide raises the error the SQL formulation raises
        if (div == 0 && failOnError) Divide(Literal(acc.toDouble), Literal(div), EvalMode.ANSI).eval()
        if (div != 0) {
          val score = acc.toDouble / div
          val id = s.getLong(0)
          // insert into the sorted top list: higher cosine first, then lower id
          def before(p: Int): Boolean = {
            val cmp = SQLOrderingUtil.compareDoubles(score, scores(p))
            cmp > 0 || (cmp == 0 && id < ids(p))
          }
          if (filled < cap || before(cap - 1)) {
            var p = if (filled < cap) { filled += 1; filled - 1 } else cap - 1
            while (p > 0 && before(p - 1)) {
              ids(p) = ids(p - 1); scores(p) = scores(p - 1); p -= 1
            }
            ids(p) = id; scores(p) = score
          }
        }
      }
      j += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(ids, filled))
  }

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(embedding = newFirst, n2 = newSecond, cents = newThird)
}

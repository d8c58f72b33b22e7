package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** A left fold over two equal-length numeric arrays as a native
  * codegen'd `Expression` (the (b)-tier extension shape, like
  * [[BloomMightContain]]): `acc = step(acc, a[i], b[i])` from `zero` in
  * index order.
  *
  * Why it exists: the composed form `aggregate(zip_with(a, b, f), zero,
  * +)` is a HIGHER-ORDER expression — Catalyst interprets the lambda per
  * element (no whole-stage codegen, boxed NamedLambdaVariables, a
  * materialized intermediate array), and the vectors family evaluates
  * it millions of times per query. A fold compiles to a bare loop over
  * the two `ArrayData`s inside whole-stage codegen: no lambda dispatch,
  * no intermediate array, no boxing.
  *
  * The contract every fold shares: null array → null; length mismatch →
  * null (the composed zip_with form yields null through a padded
  * element, same outcome); array elements are non-null by the
  * embeddings contract. FLOAT elements widen to DOUBLE before the step.
  * A subclass supplies the element types it accepts, its result type
  * (`dataType`) and `zero`, and its per-element step twice: `step` for
  * `eval`, `stepCode` for codegen. */
abstract class VectorFold[T] extends BinaryExpression {

  /** Array element types accepted on either side, independently. */
  protected def elemTypes: Seq[DataType]
  protected def zero: T
  protected def step(acc: T, x: T, y: T): T
  /** Java statements folding `x` and `y` into the variable `acc`. */
  protected def stepCode(ctx: CodegenContext, acc: String, x: String, y: String): String

  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t, _) if elemTypes.contains(t) => Some(t)
    case _                                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isEmpty || elemType(right).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs ARRAY<${elemTypes.map(_.sql).mkString("|")}> " +
          s"inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  private def get(a: ArrayData, t: DataType, i: Int): Any = t match {
    case FloatType  => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType   => a.getLong(i)
  }

  private def getCode(v: String, t: DataType, i: String): String = t match {
    case FloatType  => s"((double) $v.getFloat($i))"
    case DoubleType => s"$v.getDouble($i)"
    case LongType   => s"$v.getLong($i)"
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) return null
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (n != bb.numElements()) return null
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    var acc = zero
    var i = 0
    while (i < n) {
      acc = step(acc, get(aa, ta, i).asInstanceOf[T], get(bb, tb, i).asInstanceOf[T])
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val acc = ev.value.toString
    ev.copy(code =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = ${l.isNull} || ${r.isNull};
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${zero.toString};
        if (!${ev.isNull}) {
          int $n = ${l.value}.numElements();
          if ($n != ${r.value}.numElements()) {
            ${ev.isNull} = true;
          } else {
            for (int $i = 0; $i < $n; $i++) {
              ${stepCode(ctx, acc, getCode(l.value.toString, elemType(left).get, i),
                getCode(r.value.toString, elemType(right).get, i))}
            }
          }
        }
      """)
  }
}

/** `vector_dot(a, b)` — the embedding dot product, the vectors family's
  * hottest kernel.
  *
  * Semantics are BIT-IDENTICAL to the composed form it replaces: a
  * left-to-right fold `acc + (double) a[i] * (double) b[i]` from 0.0 in
  * index order — so every DuckDB oracle that pins the explicit
  * left-associated 64-term SQL sum keeps matching exactly. Each side
  * may be ARRAY<FLOAT> or ARRAY<DOUBLE> independently (embeddings are
  * float, literal hyperplane/centroid tables are double). */
case class VectorDot(left: Expression, right: Expression) extends VectorFold[Double] {
  override def dataType: DataType = DoubleType
  protected def elemTypes: Seq[DataType] = Seq(FloatType, DoubleType)
  protected def zero: Double = 0.0
  protected def step(acc: Double, x: Double, y: Double): Double = acc + x * y
  protected def stepCode(ctx: CodegenContext, acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** `vector_sqdist(a, b)` — squared L2 distance ‖a − b‖², [[VectorDot]]'s
  * sibling for the PQ family (sub-vector → codebook-entry distances run
  * PqM × PqK times per row in encoding and in every ADC LUT build).
  *
  * Semantics are BIT-IDENTICAL to the composed
  * `aggregate(zip_with(a, b, (x, c) => (x−c)·(x−c)), 0.0, +)` left
  * fold it replaces: `acc + d·d` with `d = (double) a[i] − (double)
  * b[i]` in index order, so the pinned explicit SQL sums in the PQ
  * oracles keep matching exactly. Sides may be ARRAY<FLOAT> or
  * ARRAY<DOUBLE> independently. */
case class VectorSqDist(left: Expression, right: Expression) extends VectorFold[Double] {
  override def dataType: DataType = DoubleType
  protected def elemTypes: Seq[DataType] = Seq(FloatType, DoubleType)
  protected def zero: Double = 0.0
  protected def step(acc: Double, x: Double, y: Double): Double = {
    val d = x - y
    acc + d * d
  }
  protected def stepCode(ctx: CodegenContext, acc: String, x: String, y: String): String = {
    val d = ctx.freshName("d")
    s"double $d = $x - $y; $acc += $d * $d;"
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorSqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_sqdist"
}

/** `vector_l2sq(a, b)` — exact-integer squared L2 distance
  * Σ (a[i] − b[i])² over two ARRAY<BIGINT>s, the quantizer's other hot
  * kernel: the IVF data-fit quantizer evaluates it (corpus rows × nlist
  * centroids) times per Lloyd step.
  *
  * Semantics are IDENTICAL to the composed
  * `aggregate(zip_with(a, b, (x, c) => (x−c)·(x−c)), 0L, +)` form:
  * 64-bit integer arithmetic (wrap-on-overflow exactly like the
  * lambda's long math), and integer addition is associative so the fold
  * order cannot matter. Array elements are non-null by the
  * quantized-embedding construction. */
case class VectorL2Sq(left: Expression, right: Expression) extends VectorFold[Long] {
  override def dataType: DataType = LongType
  protected def elemTypes: Seq[DataType] = Seq(LongType)
  protected def zero: Long = 0L
  protected def step(acc: Long, x: Long, y: Long): Long = {
    val d = x - y
    acc + d * d
  }
  protected def stepCode(ctx: CodegenContext, acc: String, x: String, y: String): String = {
    val d = ctx.freshName("d")
    s"long $d = $x - $y; $acc += $d * $d;"
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorL2Sq =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_l2sq"
}
